"""Live event processing: streaming flavors of the batch operators
(SURVEY.md §2.10 ST1-ST8).

The reference streams session events over SSE with multi-subscriber fan-out
and keepalives (streaming.py:89-132, routers/stream.py:90-152 — read, not
copied). The Spark-native shape:

- **source** (ST4/SC12): file-source `readStream` over the append-only
  events directory (`sources.jsonl.read_jsonl_stream`) — matches the
  reference's single-writer JSONL tail-read. Explicit schema required by
  Structured Streaming anyway.
- **filtering at the emitter** (ST3): `isin` allowlist + 'hook:' prefix.
- **fan-out** (ST1): `foreachBatch` handing each micro-batch to N sinks —
  Spark's unit of multiplexing; per-subscriber queues live outside the
  engine (broker/SSE server), exactly like the reference's asyncio queues
  live outside its store.
- **marker sessionization** (ST8): Spark's `session_window` is gap-based —
  wrong semantics; the streaming fold uses `applyInPandasWithState` keyed by
  session_id, emitting open turns on every update and closing on markers.
- **state bounds** (ST6): the reference's single-writer log needs none;
  here windowed aggregations bound state via `withWatermark` (closed
  windows evict), and the marker fold bounds its buffer via a
  processing-time timeout (the buffer flushes; a per-session turn counter
  survives the flush so numbering stays stable, and is itself evicted
  after a much longer retention horizon so state tracks ACTIVE sessions,
  not every session ever seen).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_STREAMING_HOOKS = (
    # ← hooks/__init__.py:15-26: the emit allowlist (names re-typed from
    # reading the inventory; filtering semantics are F10/ST3).
    "prompt:submit",
    "tool:pre",
    "tool:post",
    "thinking:delta",
    "session:start",
    "session:end",
)

# ST7 ← routers/messages.py:272-278: cancelling an in-flight execution emits
# an execution_cancelled tombstone to the session's subscribers; execution
# errors surface the same way. These are lifecycle events, emitted as-is
# (no 'hook:' prefix — they come from the manager, not the hook pipeline).
CANCELLATION_EVENT = "execution_cancelled"
ERROR_EVENT = "execution_error"
LIFECYCLE_EVENTS = (CANCELLATION_EVENT, ERROR_EVENT)


def emitter_filter(
    events: DataFrame,
    allowed: tuple[str, ...] = DEFAULT_STREAMING_HOOKS,
    event_col: str = "event",
    lifecycle: tuple[str, ...] = LIFECYCLE_EVENTS,
) -> DataFrame:
    """ST3: allowlist filter + 'hook:' prefix, applied at the source so
    non-streamed events never enter stream state. Lifecycle events
    (cancellation/error tombstones, ST7) pass through un-prefixed — the
    reference emits them directly from the stream manager, not via hooks."""
    is_hook = F.col(event_col).isin(list(allowed))
    is_lifecycle = F.col(event_col).isin(list(lifecycle))
    return events.filter(is_hook | is_lifecycle).withColumn(
        event_col,
        F.when(is_hook, F.concat(F.lit("hook:"), F.col(event_col))).otherwise(
            F.col(event_col)
        ),
    )


def fan_out(
    stream: DataFrame,
    sinks: list[Callable[[DataFrame, int], None]],
    checkpoint_dir: str,
    trigger_available_now: bool = False,
    processing_time: str | None = None,
):
    """ST1: one query, N subscriber callbacks per micro-batch. Each sink
    sees the same (persisted) batch; a slow sink backpressures the trigger,
    not the source — same failure isolation the reference gets from
    bounded per-subscriber queues."""

    def deliver(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            for sink in sinks:
                sink(batch, batch_id)
        finally:
            batch.unpersist()

    writer = stream.writeStream.foreachBatch(deliver).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def with_keepalive(
    batch: DataFrame, batch_id: int, last_seen_ts: dict, interval_s: int = 30
):
    """ST2 helper: the reference emits a keepalive after 30 s of silence
    (routers/stream.py:113-128). In Spark the trigger cadence provides the
    clock; this helper decides, per batch, whether a synthetic heartbeat row
    is due (empty batch + interval elapsed). Returned value: bool."""
    import time

    now = time.monotonic()
    # First observation initializes the silence clock — monotonic() is
    # seconds since an arbitrary epoch, so comparing against a default 0.0
    # would fire a spurious heartbeat on the very first empty batch.
    if "t" not in last_seen_ts:
        last_seen_ts["t"] = now
    if batch.isEmpty():
        if now - last_seen_ts["t"] >= interval_s:
            last_seen_ts["t"] = now
            return True
        return False
    last_seen_ts["t"] = now
    return False


def cancel_execution(
    events_dir: str,
    session_id: str,
    ts: str,
    encounter_seq: int,
    query=None,
    drain_timeout_sec: float = 60.0,
) -> str:
    """ST7 ← routers/messages.py:272-278 + session_stream_manager.py:169-179:
    cancel an in-flight execution. The reference cancels the asyncio task and
    emits an ``execution_cancelled`` event with a timestamp to the session's
    subscribers. Spark-native shape:

    1. append a tombstone event row to the session's event log (the streaming
       source) — every subscriber of the stream observes it, and
       :func:`stream_trace_turns` flushes the open turn's state on it;
    2. optionally ``stop()`` the producing StreamingQuery (the analog of
       terminating the execution task). Stopping is graceful: the in-flight
       micro-batch completes, later ones don't start.

    Returns the path of the tombstone file written. ``ts`` is the
    cancellation timestamp (ISO-8601); ``encounter_seq`` must sort after the
    session's already-appended events (the caller owns the append sequence,
    exactly like the reference's single-writer log).
    """
    import json
    import os
    import uuid

    tombstone = {
        "session_id": session_id,
        "ts": ts,
        "lvl": "INFO",
        "event": CANCELLATION_EVENT,
        "data": None,
        "encounter_seq": encounter_seq,
    }
    from datetime import datetime, timezone

    written_at = datetime.now(timezone.utc)
    path = os.path.join(events_dir, f"cancel-{uuid.uuid4().hex}.jsonl")
    with open(path, "w") as f:
        f.write(json.dumps(tombstone) + "\n")
    if query is not None:
        # Drain the tombstone BEFORE stopping — a bare stop() would halt
        # after the in-flight micro-batch, which listed its files before
        # the tombstone existed, leaving the open turn frozen in state
        # until some later restart. Do NOT use processAllAvailable() here:
        # a stateful query with armed processing-time timeouts runs
        # no-data "state cleanup" micro-batches continuously under the
        # default trigger, so the engine never quiesces and
        # processAllAvailable blocks forever. Instead wait (bounded) for an
        # input-consuming batch whose TRIGGER STARTED after the tombstone
        # file existed — "batchId advanced + had input" alone is not proof:
        # that can be the in-flight batch that listed its files pre-write,
        # and stopping on it would strand the tombstone unconsumed (the
        # exact frozen-open-turn state this drain exists to prevent). A
        # batch that starts after the write necessarily lists the file
        # (same driver clock stamps both sides, so the comparison is
        # skew-free).
        import time as _time

        def _started_after(p) -> bool:
            try:
                ts = datetime.fromisoformat(
                    p["timestamp"].replace("Z", "+00:00")
                )
            except (KeyError, ValueError):
                return False
            return ts > written_at

        try:
            deadline = _time.monotonic() + drain_timeout_sec
            while _time.monotonic() < deadline:
                p = query.lastProgress
                if (
                    p is not None
                    and p["numInputRows"] > 0
                    and _started_after(p)
                ):
                    break
                _time.sleep(0.2)
        finally:
            query.stop()
    return path


def stream_turn_stats(
    events: DataFrame,
    ts_col: str = "ts",
    session_col: str = "session_id",
    marker: str = "prompt:submit",
) -> DataFrame:
    """ST6/ST8-lite: streaming per-(session, turn) aggregates where turn ids
    are carried by the events (assigned at ingest by the batch W1 pass or by
    the producer). Full marker-state sessionization lives in
    :func:`stream_trace_turns`.

    Runs in update/complete mode; state holds one row per distinct
    (session, turn) key FOREVER — a watermark can't evict it because the
    grouping has no event-time column (an earlier version carried an inert
    withWatermark here that suggested otherwise). For bounded state on a
    long-running stream use :func:`stream_trace_turns` (timeout-flushed) or
    :func:`stream_windowed_counts` (watermark-closed windows)."""
    return (
        events
        .groupBy(session_col, "turn_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("turn_start"),
            F.max(ts_col).alias("turn_end"),
        )
    )


def stream_windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "30 minutes",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """ST6: tumbling event-time window counts with late-data handling.

    The watermark bounds state AND defines finality: in append output mode a
    window row is emitted exactly once, when the watermark (max event time
    seen minus ``watermark``) passes the window end — events later than that
    are dropped, which is the contract that lets a 100 TB/day stream keep
    bounded state instead of waiting forever for stragglers. Downstream
    rollups (rollup.time_bucket_rollup) accept the finalized rows as-is."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), *group_cols)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "n_events",
        )
    )


def stream_windowed_distinct(
    events: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    window: str = "30 minutes",
    watermark: str = "10 minutes",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """ST6 + sketches: per-window APPROX distinct keys (unique users/docs/
    sessions) via HyperLogLog++ — the only distinct that works in a
    watermarked stream with bounded state. Exact countDistinct would need
    every key retained per open window; the HLL register array is
    constant-size and MERGEABLE, so partial aggregates combine across
    micro-batches and the result is order-independent (a batch replay of
    the same data produces the identical estimate — parity-tested)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), *group_cols)
        .agg(F.approx_count_distinct(key_col).alias("approx_distinct"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "approx_distinct",
        )
    )


def stream_session_gap_stats(
    events: DataFrame,
    ts_col: str = "ts",
    session_col: str = "session_id",
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based session windows (engine addition alongside the reference's
    marker-based S1): a session closes after ``gap`` of event-time silence.
    ``F.session_window`` merges overlapping windows in state; the watermark
    both finalizes closed sessions (append mode emits each exactly once)
    and bounds state for dead keys. The complement to marker sessions for
    activity-defined workloads (user browsing sessions, device bursts)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), session_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            session_col,
            "n_events",
        )
    )


def stream_trace_turns(
    events: DataFrame,
    timeout_ms: int = 60_000,
    retention_ms: int | None = None,
) -> DataFrame:
    """ST8: marker-based sessionization over a LIVE event stream — the
    streaming twin of :func:`lakehouse_spark.operators.sessionize.
    aggregate_trace`, sharing its fold so batch and streaming replays of the
    same log produce identical turns (SURVEY.md phase-6 parity requirement).

    Spark's `session_window` is gap-based and cannot express the
    reference's explicit open/close markers (prompt:submit / session:end),
    so this is `applyInPandasWithState` keyed by session_id:

    - state = (#turns and #tools already emitted, JSON buffer of the open
      turn's raw events). Bounded by one turn's events, not the whole
      session. Adding the tool count changed the state schema: a checkpoint
      written before it holds three fields and cannot be resumed.
    - each micro-batch: buffered + new events are folded by
      ``_fold_session`` starting from the emitted counts, so turn and tool
      ids continue the session's numbering; turns the fold CLOSED are
      emitted, the trailing still-open turn goes back into the buffer.
    - on processing-time timeout (``timeout_ms`` of silence), the open turn
      is emitted with status 'active' and the event BUFFER clears — the
      streaming analog of the batch fold's unclosed-turn-at-EOF behavior
      (ST6). The per-session emitted counters stay in state so a
      session that resumes after the timeout continues numbering where it
      left off instead of reissuing turn_id 1 (which would collide in any
      sink keyed by (session_id, turn_id)); late events of a flushed turn
      start a NEW turn rather than mutating the emitted one.
    - the counter row itself is NOT kept forever: once a session has been
      fully idle (empty buffer) for ``retention_ms`` of processing time
      (default ``max(100 * timeout_ms, 1 hour)``), state.remove() drops it,
      so total state is bounded by ACTIVE session cardinality, not by every
      session that ever appeared. A session silent longer than the
      retention horizon that then resumes restarts at turn_id 1 — the
      accepted price; pick retention_ms longer than any plausible
      resume gap for sinks keyed by (session_id, turn_id).

    Input must be TRACE_EVENT-shaped (ts STRING, data STRUCT,
    encounter_seq LONG — the producer's append order).
    """
    import json

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from lakehouse_spark.operators.sessionize import _fold_session
    from lakehouse_spark.schemas import TRACE_TURN

    if retention_ms is None:
        retention_ms = max(100 * timeout_ms, 3_600_000)

    state_schema = StructType(
        [
            StructField("emitted", LongType()),
            StructField("tools", LongType()),  # tools of the emitted turns
            StructField("buffer", StringType()),  # JSON list of open-turn events
            # Processing-time ms when the session last went fully idle
            # (buffer emptied by a timeout flush); 0 = currently active.
            # Drives the retention horizon above.
            StructField("idle_since", LongType()),
        ]
    )
    cols = ["session_id", "ts", "lvl", "event", "data", "encounter_seq"]

    def jsonable(v):
        # Arrow hands pandas numpy scalars; default=str would stringify them
        # (breaking encounter_seq ordering and result.success checks), so
        # unwrap recursively instead.
        if isinstance(v, dict):
            return {k: jsonable(x) for k, x in v.items()}
        if isinstance(v, (list, tuple)):
            return [jsonable(x) for x in v]
        if hasattr(v, "item"):
            v = v.item()
        if isinstance(v, float) and v != v:  # NaN from pandas nullables
            return None
        return v

    def tool_count(turns):
        return int(turns["tools"].map(len).sum()) if len(turns) else 0

    def fold(key, pdf_iter, state: GroupState):
        (session_id,) = key
        emitted, tools, buffer, idle_since = (
            state.get if state.exists else (0, 0, "[]", 0)
        )

        if state.hasTimedOut:
            now = state.getCurrentProcessingTimeMs()
            pending = json.loads(buffer)
            if pending:
                turns = _fold_session(
                    pd.DataFrame(pending, columns=cols), emitted, tools
                )
                emitted += len(turns)
                tools += tool_count(turns)
            else:
                turns = None
            # Keep the (tiny) emitted counters instead of state.remove():
            # dropping it would restart a later-resuming session's turn
            # numbering at 1, colliding with already-emitted
            # (session_id, turn_id) keys downstream. The event BUFFER — the
            # part that grows — is cleared. The counter row is kept only
            # through the retention horizon: after retention_ms of full
            # idleness the row is removed, so state doesn't accrete one row
            # per session-ever on a long-running stream.
            idle_since = idle_since or now
            if not pending and now - idle_since >= retention_ms:
                state.remove()
                return
            state.update((emitted, tools, "[]", idle_since))
            state.setTimeoutDuration(timeout_ms)
            if turns is not None:
                yield turns  # trailing turn surfaces as 'active'
            return

        rows = json.loads(buffer)
        for pdf in pdf_iter:
            rows.extend(pdf[cols].to_dict("records"))
        rows.sort(key=lambda r: r["encounter_seq"])

        turns = _fold_session(pd.DataFrame(rows, columns=cols), emitted, tools)
        closed = turns[turns["status"] != "active"].copy()
        has_open = len(turns) and turns.iloc[-1]["status"] == "active"

        # ST7: an execution_cancelled tombstone after the open turn's prompt
        # flushes that turn NOW with status 'active' (non-completed) instead
        # of waiting for the state timeout — the streaming analog of the
        # reference killing the execution task mid-turn. The batch fold
        # deliberately ignores the tombstone (the reference's aggregator
        # never sees manager-emitted events), so numbering stays in parity.
        cancel_seq = max(
            (r["encounter_seq"] for r in rows if r["event"] == CANCELLATION_EVENT),
            default=None,
        )
        prompt_seqs = [
            r["encounter_seq"] for r in rows if r["event"] == "prompt:submit"
        ]
        cancelled_open = (
            bool(has_open)
            and cancel_seq is not None
            and cancel_seq > max(prompt_seqs)
        )

        if cancelled_open:
            out = turns.copy()  # closed turns + the flushed active turn
            pending = []
        elif has_open:
            # the open turn's raw events = everything from the last
            # prompt:submit onward; only they need to survive in state
            last_prompt = max(
                i for i, r in enumerate(rows) if r["event"] == "prompt:submit"
            )
            pending = [jsonable(r) for r in rows[last_prompt:]]
            out = closed
        else:
            pending = []
            out = closed

        # Data arrived: the session is active again — reset the idle clock.
        state.update(
            (emitted + len(out), tools + tool_count(out), json.dumps(pending), 0)
        )
        state.setTimeoutDuration(timeout_ms)
        if len(out):
            yield out

    return events.groupBy("session_id").applyInPandasWithState(
        fold,
        outputStructType=TRACE_TURN,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def exactly_once_store_sink(store, app_id: str = "stream"):
    """Exactly-once streaming ingestion into the versioned TableStore.

    foreachBatch is at-least-once: after a failure the last batch REPLAYS
    with the same batch_id. The sink makes the append idempotent by
    committing ``(app_id, batch_id)`` as a transaction watermark the store
    CARRIES FORWARD through every subsequent commit (TableStore.txn — the
    same protocol as Delta's ``txnAppId``/``txnVersion``), and skipping any
    batch id at or below the last committed one. Because the watermark
    rides in every head manifest rather than only the stream's own commit,
    idempotence survives interleaved upserts/deletes/compactions, other
    streams on the same table (distinct ``app_id``s), and vacuum. Combined
    with the store's optimistic version claim, a replayed or racing batch
    can never double-append."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= store.last_txn_version(app_id):
            return  # replayed batch — already committed
        store.append(batch, txn=(app_id, batch_id))

    return sink


def exactly_once_upsert_sink(store, app_id: str = "stream_upsert"):
    """Exactly-once streaming MERGE: each micro-batch upserts into the
    keyed TableStore (last write per key wins within the batch is the
    caller's contract, as with Delta MERGE), idempotent under foreachBatch
    replay via the same carried-forward txn watermark as
    :func:`exactly_once_store_sink`. The CDC-apply shape: a stream of
    changed rows keeps a dimension table current."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= store.last_txn_version(app_id):
            return  # replayed batch — already merged
        store.upsert(batch, txn=(app_id, batch_id))

    return sink


def mark_unread_sink(sessions_store, subscribed_sessions, app_id: str = "mark_unread"):
    """ST5 ← routers/messages.py:249-271: conditional side-effect on batch
    completion — a session receiving new messages is flipped to unread ONLY
    if nobody is actively subscribed to it and it was previously read.

    Returns a foreachBatch callback closing over the sessions TableStore and
    a live set of subscribed session ids (the registry the SSE layer owns).
    The flip is a keyed upsert — Delta form: conditional MERGE — stamped
    with the (app_id, batch_id) txn watermark so a foreachBatch REPLAY
    after a crash cannot re-flip sessions the user read in between (the
    same idempotence discipline as the exactly_once_* sinks)."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= sessions_store.last_txn_version(app_id):
            return  # replayed batch — flips already committed
        touched = batch.select("session_id").distinct()
        base = sessions_store.read()
        subscribed = list(subscribed_sessions) or ["__none__"]
        to_mark = (
            base.join(touched, "session_id", "left_semi")
            .filter(~F.col("is_unread") & ~F.col("session_id").isin(subscribed))
            .withColumn("is_unread", F.lit(True))
        ).persist()  # computed once, feeds both the gate and the upsert
        try:
            if to_mark.count():
                sessions_store.upsert(to_mark, txn=(app_id, batch_id))
        finally:
            to_mark.unpersist()

    return sink


def dedup_ingest_sink(
    store,
    sig_store,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    app_id: str = "dedup_ingest",
):
    """Streaming near-dup-FILTERED ingestion: each micro-batch's documents
    are LSH-banded (operators.dedup.band_signatures), screened against the
    accumulated signature index AND against earlier docs in the same batch,
    and only novel documents append to ``store`` — their bands appending to
    ``sig_store`` so later batches see them. The curation funnel's dedup
    stage, expressed as a stream.

    Semantics: CANDIDATE-level filtering — sharing any LSH band drops the
    newcomer (keep-first). That is deliberately aggressive (no exact-Jaccard
    verify; the index stores narrow band rows, never shingle sets) — the
    right trade for ingest-time screening at scale, where the index must
    stay small and false-positive drops are cheap. Run the exact batch
    pipeline for offline verification.

    Exactly-once: both stores carry the (app_id, batch_id) txn watermark and
    are checked INDEPENDENTLY, so a crash between the two appends replays
    into a half-committed state and completes it — survivors are recomputed
    against the same index (the sig_store append is the LAST step), so the
    replay decides identically.
    """
    from lakehouse_spark.operators import dedup

    def sink(batch: DataFrame, batch_id: int) -> None:
        store_done = batch_id <= store.last_txn_version(app_id)
        sig_done = batch_id <= sig_store.last_txn_version(app_id)
        if store_done and sig_done:
            return  # fully-committed replay
        # spread_input=False: micro-batch banding feeds a store APPEND;
        # spreading a small batch would fan the segment into one file per
        # non-empty partition for no compute gain (guide §6 small files).
        bands_new = dedup.band_signatures(
            batch, id_col, text_col, n=n, k=k, bands=bands,
            spread_input=False,
        ).localCheckpoint(eager=True)
        if sig_store.exists():
            dup_vs_index = bands_new.join(
                sig_store.read().select("band", "band_sig"),
                ["band", "band_sig"],
                "left_semi",
            )
        else:
            dup_vs_index = bands_new.limit(0)
        a, b = bands_new.alias("a"), bands_new.alias("b")
        dup_in_batch = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.id") > F.col("b.id")),
                "left_semi",
            )
            .select("id")
        )
        doomed = (
            dup_vs_index.select("id").union(dup_in_batch).distinct()
        )
        survivors = batch.join(
            doomed.withColumnRenamed("id", id_col), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        # Both appends run even when empty: the commit advances the txn
        # watermark, so a replay of an all-duplicates batch is a cheap skip
        # instead of a recompute. Order matters — store first, index last —
        # so a crash in between replays against the SAME index and decides
        # identically.
        if not store_done:
            store.append(survivors, txn=(app_id, batch_id))
        if not sig_done:
            keep_bands = bands_new.join(
                survivors.select(F.col(id_col).alias("id")), "id", "left_semi"
            )
            sig_store.append(keep_bands, txn=(app_id, batch_id))

    return sink


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream INNER join with an event-time interval condition: each
    left row pairs with right rows of the same ``key`` whose ``right_ts``
    falls in [left_ts - lookback, left_ts] — the streaming attribution
    shape (purchase ⨝ clicks in the preceding hour), the live twin of the
    batch :func:`lakehouse_spark.operators.joins.asof_join` family.

    Scale/state design: Spark buffers BOTH sides in join state; without a
    time bound that state grows forever. The watermark on each side plus
    the range condition lets the engine evict a buffered row as soon as its
    event time drops below (max event time - watermark - lookback), so
    state is bounded by (input rate x (watermark + lookback)) per side
    regardless of how long the query runs. ``watermark`` must be >= the
    out-of-orderness you tolerate; rows later than that are dropped, which
    is the documented trade.

    ``right``'s non-key columns must not collide with ``left``'s.
    """
    l = left.withWatermark(left_ts, watermark).alias("__l")
    r = right.withWatermark(right_ts, watermark).alias("__r")
    cond = (
        (F.col(f"__l.{key}") == F.col(f"__r.{key}"))
        & (F.col(f"__r.{right_ts}") <= F.col(f"__l.{left_ts}"))
        & (
            F.col(f"__r.{right_ts}")
            >= F.col(f"__l.{left_ts}") - F.expr(f"INTERVAL {lookback}")
        )
    )
    return l.join(r, cond, "inner").drop(F.col(f"__r.{key}"))


def stream_dedup(
    events: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication with BOUNDED state: the streaming face
    of the batch `d1_exact_dedup` family. ``dropDuplicatesWithinWatermark``
    keeps a key in state only until the event-time watermark passes it, so
    state is O(keys per watermark window), not O(all keys ever) — the
    difference between a dedup that survives a month-long stream and one
    that OOMs. Duplicates arriving later than ``watermark`` are NOT
    suppressed (they're beyond the dedup horizon by contract); exactly-once
    delivery into a store composes via exactly_once_store_sink."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        id_cols
    )


def continuous_agg_sink(store, view, app_id: str = "stream_cagg"):
    """Continuous aggregate (the Timescale/Databricks pattern): one
    foreachBatch sink that (a) appends the batch into the base TableStore
    exactly-once, then (b) advances the incremental materialized view
    (:class:`lakehouse_spark.mutation.mview.MaterializedAgg`) to the new
    base version. Replayed batches skip BOTH steps via the txn watermark,
    and the view refresh reads only the CDF of the appended segment —
    O(batch), never O(table). If the process dies between (a) and (b), the
    next batch's refresh() catches the view up (it advances version-to-
    version, not batch-to-batch), so the view lags but never diverges."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        if batch_id <= store.last_txn_version(app_id):
            return
        store.append(batch, txn=(app_id, batch_id))
        view.refresh()

    return sink


def stream_trending_terms(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    k: int = 10,
) -> DataFrame:
    """Trending terms over a live document stream: tumbling event-time
    windows of per-term counts. Emit the windowed counts in append mode
    once the watermark closes each window; the top-k cut runs downstream
    on the CLOSED window's counts (a per-window sort inside the stream
    would need complete mode — unbounded state). The batch face of the
    same cut is text_top_words; this keeps term state bounded by
    (vocabulary x open windows)."""
    return (
        docs.withWatermark(ts_col, watermark)
        .select(
            F.col(ts_col),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("term"),
        )
        # split() on a blank doc yields [''] — drop it, matching the batch
        # face (text_top_words filters word != '')
        .filter(F.col("term") != "")
        .groupBy(F.window(ts_col, window), "term")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            "term",
            "n",
        )
    )

"""Marker-based sessionization & trace aggregation (SURVEY.md §2.5 S1-S7,
§2.9 W1-W3).

The reference folds an ordered per-session event log into "turns"
(amplifierd/services/trace_aggregator.py:56-211, read-not-copied):
`prompt:submit` opens a turn, `tool:pre` adds a running tool, `tool:post`
completes the first still-running tool with the same (tool_name,
parallel_group_id), `thinking:delta` accumulates, `session:end` closes the
turn, a new prompt implicitly closes the previous turn, and an unclosed turn
at EOF stays `active`.

The window helpers (:func:`turn_number`, :func:`pair_tool_events`,
:func:`turn_stats`) are pure Catalyst and replayable in ANSI SQL: turn
assignment is a running count of markers, pre/post matching is rank
pairing. They give the flattened S1 slice the DuckDB oracle checks, not the
exact fold (the reference's edge cases, such as a dropped unmatched
tool:post and first-running matching under interleaving, are sequential).

The exact fold is :func:`aggregate_trace`, with one path: a window pre-pass
gives each event its turn and each turn its starting state (turns and tools
before it, and whether a later prompt closes it), then `applyInPandas`
folds every (session, turn) group with :func:`_fold_session`, the reference
fold that :func:`lakehouse_spark.streaming.live.stream_trace_turns` also
runs from its saved state. Golden fixtures and a differential test against
the whole-session fold check it.

Spark's `session_window` is gap-based and CANNOT express marker semantics —
that's why this operator exists (SURVEY.md §2.10 ST8).

Scale: one shuffle on session_id; sessions are independent, so executors
scale linearly. A pandas group holds one TURN, so a giant session is
bounded by its largest turn, not by its length.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_spark.schemas import TRACE_TURN


def _sql_str(s: str) -> str:
    """Render a Python string as a Spark-SQL string literal (backslash and
    quote escaped) for the composed-SQL fast paths."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


# --- W1: turn assignment ------------------------------------------------------


def turn_number(
    df: DataFrame,
    session_col: str,
    order: list[Column],
    is_marker: Column,
    out_col: str = "turn_id",
) -> DataFrame:
    """W1: assign each event the running count of marker events seen so far
    in its session — events before the first marker get turn 0."""
    w = (
        Window.partitionBy(session_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out_col, F.sum(F.when(is_marker, 1).otherwise(0)).over(w).cast("long")
    )


# --- W2: pre/post pairing -----------------------------------------------------


def pair_tool_events(
    df: DataFrame,
    keys: list[str],
    kind_col: str,
    order: list[Column],
    pre_kind: str = "tool:pre",
    post_kind: str = "tool:post",
    rank_col: str | None = None,
) -> DataFrame:
    """W2: pair the i-th ``pre`` event with the i-th ``post`` event within
    ``keys`` (session, turn, tool_name, parallel_group_id). Reproduces the
    reference's "first still-running tool wins" under ordered logs. Output:
    one row per pre event with matched post columns suffixed `_post`
    (NULL-suffixed rows = still running; unmatched posts drop — same as the
    reference's ignore path, trace_aggregator.py:180-183). Set ``rank_col``
    to keep the pairing index in the output.

    ONE shuffle total (round 12; was three): per-kind ranks come from two
    running counts in a single ``keys``-partitioned window (``order`` must
    totally order rows within keys — the same assumption the previous
    row_number form made), and the pre↔post match is a groupBy on
    (keys, rank) that PIVOTS the two kinds into struct columns instead of
    self-joining the ranked relation. The groupBy reuses the window's
    hash partitioning (its keys are a superset), so neither the join
    exchanges nor their sorts exist anymore. max() sees at most one
    non-null struct per (keys, rank, kind) — ranks are unique within a
    kind — so the pivot is exact, and unmatched posts drop because only
    groups with a pre row survive."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_pre = F.col(kind_col) == pre_kind
    is_post = F.col(kind_col) == post_kind
    ranked = df.filter(is_pre | is_post).withColumn(
        "__k",
        F.when(
            is_pre, F.sum(F.when(is_pre, 1).otherwise(0)).over(w)
        )
        .otherwise(F.sum(F.when(is_post, 1).otherwise(0)).over(w))
        .cast("int"),  # row_number emitted INT32; keep the schema
    )
    others = [c for c in df.columns if c not in (*keys, kind_col)]
    # The struct pivots and the wide unpack projection are composed as SQL
    # strings (one parse each) — the Column-DSL form cost ~10 py4j
    # round-trips per output column (see functions.scalar.hash64_spark_sql).
    struct_cols = ", ".join(f"`{c}`" for c in others)
    kinds = {"pre": pre_kind, "post": post_kind}
    agg = ranked.groupBy(*keys, "__k").agg(
        *[
            F.expr(
                f"max(CASE WHEN `{kind_col}` = {_sql_str(kind)}"
                f" THEN struct({struct_cols}) END) as __{tag}"
            )
            for tag, kind in kinds.items()
        ]
    )
    out = agg.filter("__pre IS NOT NULL").selectExpr(
        *[f"`{c}`" for c in keys],
        f"{_sql_str(pre_kind)} as `{kind_col}`",
        *[f"__pre.`{c}` as `{c}`" for c in others],
        *[f"__post.`{c}` as `{c}_post`" for c in others],
        "__k",
    )
    if rank_col is not None:
        out = out.withColumn(rank_col, F.col("__k"))
    return out.drop("__k")


# --- flattened turn statistics (oracle-checkable S1 slice) ---------------------


def turn_stats(
    df: DataFrame,
    session_col: str,
    ts_col: str,
    order: list[Column],
    is_marker: Column,
    value_col: str | None = None,
) -> DataFrame:
    """S1 (flattened): assign turns by marker, then aggregate one row per
    (session, turn): event count, start/end timestamps, optional value sum.
    This is the window-form sessionization a DuckDB oracle can replay."""
    with_turn = turn_number(df, session_col, order, is_marker)
    aggs = [
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("turn_start"),
        F.max(ts_col).alias("turn_end"),
    ]
    if value_col is not None:
        # Decimal sum: order-independent (double partial-agg combine order
        # is schedule-dependent and can flip the 4th decimal after round).
        aggs.append(
            F.round(F.sum(F.col(value_col).cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("value_sum")
        )
    return with_turn.groupBy(session_col, "turn_id").agg(*aggs)


# --- S1 exact fold: nested trace turns via applyInPandas -----------------------

_TRUNC_AT = 1000  # ← trace_aggregator.py:41 (payload cap)


def _truncate(s: str | None) -> str | None:
    if s is None:
        return None
    s = str(s)
    return s[:_TRUNC_AT] + "... (truncated)" if len(s) > _TRUNC_AT else s


def _iso_ms(ts: str | None) -> int:
    """ISO-8601 → epoch ms; 0 when unparseable (trace_aggregator.py:24-38)."""
    from datetime import datetime, timezone

    if not ts:
        return 0
    try:
        dt = datetime.fromisoformat(str(ts).replace("Z", "+00:00"))
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        return int(dt.timestamp() * 1000)
    except (ValueError, TypeError):
        return 0


def _get(d, key, default):
    """dict.get with the reference's missing-key default, treating None as
    absent. Our TRACE_EVENT struct schema always materializes every field
    (null when the source event lacked it), while the reference reads raw
    JSON dicts where the key is simply missing — null-as-absent is the
    faithful mapping between the two."""
    v = d.get(key) if isinstance(d, dict) else None
    return default if v is None else v


def _child_session_id(output) -> str | None:
    """Sub-agent child-session extraction (trace_aggregator.py:160-165):
    the reference reads ``result.output`` as a dict and takes
    ``output["session_id"]``. Our Spark schema types output as string, so a
    string that JSON-parses to such a dict is accepted too."""
    if isinstance(output, dict):
        return output.get("session_id")
    if isinstance(output, str):
        import json

        try:
            parsed = json.loads(output)
        except (ValueError, TypeError):
            return None
        if isinstance(parsed, dict):
            return parsed.get("session_id")
    return None


def _fold_session(
    pdf: pd.DataFrame,
    turn_offset: int = 0,
    tool_offset: int = 0,
    open_status: str = "active",
) -> pd.DataFrame:
    """Reference fold for ONE session's events (already a single group).

    Semantics reproduced from trace_aggregator.py:75-211 (turn open 98-110,
    tool add 112-132, match/update 134-183, thinking 185-192, close 195-200,
    EOF 202-204) — behavior re-derived from reading, logic written fresh.
    Missing-field defaults mirror the reference's ``data.get(key, "")``
    pattern via :func:`_get` (null-as-absent).

    The fold may start mid-session: ``turn_offset`` turns and
    ``tool_offset`` tools came before these events, and a turn still open
    at the end of them gets ``open_status`` ("completed" when a later
    prompt, not given here, closes it). The defaults fold a whole session.
    """
    pdf = pdf.sort_values("encounter_seq", kind="stable")
    session_id = pdf["session_id"].iloc[0] if len(pdf) else None
    turns: list[dict] = []
    cur: dict | None = None
    tool_seq = tool_offset

    def close(status: str) -> None:
        # Running tools keep status "running" — the reference fold never
        # rewrites tool status at turn close (trace_aggregator.py:195-204).
        nonlocal cur
        if cur is None:
            return
        cur["status"] = status
        turns.append(cur)
        cur = None

    for row in pdf.itertuples(index=False):
        ev = row.event
        data = row.data if isinstance(row.data, dict) else {}
        ms = _iso_ms(row.ts)
        if ev == "prompt:submit":
            close("completed")  # implicit close on back-to-back prompts
            cur = {
                "session_id": session_id,
                "turn_id": turn_offset + len(turns) + 1,
                "user_message": _get(data, "prompt", ""),
                "status": "active",
                "start_time": ms,
                "end_time": None,
                "tools": [],
                "thinking": [],
            }
        elif ev == "tool:pre" and cur is not None:
            tool_seq += 1
            tool_input = _get(data, "tool_input", {})
            name = _get(data, "tool_name", "")
            # Task tool with an "agent" input = sub-agent spawn
            # (trace_aggregator.py:118-120).
            is_sub = name.lower() == "task"
            cur["tools"].append(
                {
                    "id": f"tool_{tool_seq}",
                    "name": name,
                    "parallel_group_id": _get(data, "parallel_group_id", ""),
                    "status": "running",
                    "start_time": ms,
                    "end_time": None,
                    "duration": None,
                    "result": None,
                    "error": None,
                    "is_sub_agent": is_sub,
                    "sub_agent_name": (
                        dict(tool_input).get("agent") if is_sub else None
                    ),
                    "child_session_id": None,
                }
            )
        elif ev == "tool:post" and cur is not None:
            name = _get(data, "tool_name", "")
            gid = _get(data, "parallel_group_id", "")
            match = next(
                (
                    t
                    for t in cur["tools"]
                    if t["status"] == "running"
                    and t["name"] == name
                    and t["parallel_group_id"] == gid
                ),
                None,
            )
            if match is None:
                continue  # unmatched post: dropped (ref :180-183)
            match["status"] = "completed"
            match["end_time"] = ms
            if match["start_time"]:
                match["duration"] = round(ms - match["start_time"], 2)
            result = _get(data, "result", "")
            if isinstance(result, dict):
                if match["is_sub_agent"]:
                    match["child_session_id"] = _child_session_id(
                        result.get("output")
                    )
                if _get(result, "success", True):
                    match["result"] = _truncate(str(_get(result, "output", "")))
                else:
                    match["status"] = "error"
                    err = _get(result, "error", {})
                    match["error"] = _truncate(
                        _get(err, "message", str(err))
                        if isinstance(err, dict)
                        else str(err)
                    )
            else:
                # Non-dict results are stored stringified
                # (trace_aggregator.py:177-179).
                match["result"] = _truncate(str(result))
        elif ev == "thinking:delta" and cur is not None:
            cur["thinking"].append(
                {"start_time": ms, "content": _get(data, "delta", "")}
            )
        elif ev == "session:end":
            if cur is not None:
                cur["end_time"] = ms
            close("completed")
    close(open_status)  # trailing unclosed turn stays visible (ref :201-204)

    if not turns:
        return pd.DataFrame(columns=[f.name for f in TRACE_TURN.fields])
    return pd.DataFrame(turns)


# One session-ordered window pass gives every event its turn (the running
# prompt count; events before the first prompt drop) and keeps only the
# events the fold acts on: a prompt, or an event whose last earlier marker
# is a prompt. Events after a turn's first session:end (until the next
# prompt) are no-ops in the fold, so dropping them makes every kept tool:pre
# a tool of its turn, and the tool ordinals of earlier turns are a count.
# NULLS LAST is where _fold_session's sort puts a NULL encounter_seq.
_TRACE_TURN_ROWS_SQL = """
SELECT * EXCEPT (__turns, __marker), __turn = __turns AS __last,
       coalesce(sum(IF(event = 'tool:pre', 1, 0)) OVER (
         PARTITION BY session_id ORDER BY __turn
         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS __tools_before
FROM (
  SELECT *,
         sum(IF(event = 'prompt:submit', 1, 0)) OVER (
           PARTITION BY session_id ORDER BY encounter_seq ASC NULLS LAST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __turn,
         sum(IF(event = 'prompt:submit', 1, 0)) OVER (
           PARTITION BY session_id) AS __turns,
         last(CASE WHEN event IN ('prompt:submit', 'session:end') THEN event END,
              true) OVER (
           PARTITION BY session_id ORDER BY encounter_seq ASC NULLS LAST
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __marker
  FROM {events}
)
WHERE __turn > 0 AND (event = 'prompt:submit' OR __marker = 'prompt:submit')
"""


def _fold_turn(pdf: pd.DataFrame) -> pd.DataFrame:
    """Fold one (session, turn) group from the state the pre-pass gave
    every row of it: earlier turns and their tools, and whether a later
    prompt closes the turn."""
    head = pdf.iloc[0]
    return _fold_session(
        pdf,
        turn_offset=int(head["__turn"]) - 1,
        tool_offset=int(head["__tools_before"]),
        open_status="active" if head["__last"] else "completed",
    )


def aggregate_trace(events: DataFrame) -> DataFrame:
    """S1: events (TRACE_EVENT shape) → nested turns (TRACE_TURN shape).

    One shuffle on session_id: a window pre-pass (one SQL projection,
    :data:`_TRACE_TURN_ROWS_SQL`) numbers each event's turn, drops the
    events the fold would ignore, and gives every row its turn's starting
    state; then each (session_id, turn) group is folded by
    :func:`_fold_session` from that state, Arrow-batched both ways. The
    grouping reuses the window's partitioning, so no second exchange runs.

    A pandas group holds one TURN, never a whole session: one giant session
    costs as many groups as it has turns, not one worker's memory. Output
    equals :func:`_fold_session` over each whole session (tool ids
    included)."""
    rows = events.sparkSession.sql(_TRACE_TURN_ROWS_SQL, events=events)
    return rows.groupBy("session_id", "__turn").applyInPandas(
        _fold_turn, schema=TRACE_TURN
    )


# --- A3: per-session tool metrics ----------------------------------------------


_TRACE_METRICS_SQL = """
SELECT session_id, total_tools, avg_tool_duration,
       mx.d AS max_tool_duration, mx.n AS longest_tool, total_thinking
FROM (
  SELECT session_id,
         count(t.id) AS total_tools,
         round(avg(t.duration), 4) AS avg_tool_duration,
         max(IF(t.duration IS NOT NULL,
                struct(t.duration AS d, t.id AS i, t.name AS n), NULL)) AS mx,
         sum(IF(coalesce(pos, 0) = 0 AND thinking IS NOT NULL,
                size(filter(thinking, th -> th.start_time IS NOT NULL)), 0))
           AS total_thinking
  FROM {turns} LATERAL VIEW OUTER posexplode(tools) AS pos, t
  GROUP BY session_id
)
"""


def trace_metrics(turns: DataFrame) -> DataFrame:
    """A3 ← webapp useExecutionState.ts:85-112: totalTools, totalThinking,
    avgToolDuration, longestTool (argmax by duration, deterministic via
    struct-max tiebreak on tool id).

    One aggregate over one evaluation of ``turns``: each turn row explodes
    its tools (OUTER, so a turn without tools still counts its thinking);
    the turn's thinking entries with a start time count on its first row
    only. ``avg`` and the struct ``max`` see finished tools only (a NULL
    duration is skipped), so a session with none reads NULL there. A NULL
    ``session_id`` is one group with its own metrics."""
    return turns.sparkSession.sql(_TRACE_METRICS_SQL, turns=turns)


def gap_sessions(
    df: DataFrame,
    key: str,
    ts_col: str,
    tie_col: str,
    gap_s: int = 1800,
) -> DataFrame:
    """Inactivity-gap sessionization (S-series addition): a new session
    starts when the time since the previous event of the same ``key`` is
    STRICTLY MORE than ``gap_s`` seconds. The strict boundary matches
    Spark's native ``F.session_window`` merge rule exactly (an event at
    precisely ``last_ts + gap`` still merges — windows [a, a+gap] and
    [a+gap, a+2gap] overlap at the endpoint and session_window coalesces
    overlapping windows), so the batch output is bit-identical to the Structured-Streaming
    ``stream_session_gap_stats`` operator over the same events — the
    batch/stream parity pair for gap sessions (marker sessions have the
    same pair via aggregate_trace / stream_trace_turns).

    Scale shape: one shuffle on ``key``; the running ``sum(is_new)`` session
    index and the per-session aggregate reuse the same partitioning, so
    Catalyst plans a single Exchange. ``tie_col`` makes the order total —
    without it, equal timestamps make the session index nondeterministic.

    Returns (key, session_idx (1-based), session_start, n_events,
    duration_us).
    """
    w = Window.partitionBy(key).orderBy(ts_col, tie_col)
    gap_us = gap_s * 1_000_000
    prev = F.lag(ts_col).over(w)
    is_new = (
        prev.isNull()
        | (F.unix_micros(F.col(ts_col)) - F.unix_micros(prev) > gap_us)
    )
    idx = F.sum(is_new.cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("session_idx", idx.cast("long"))
        .groupBy(key, "session_idx")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.count("*").alias("n_events"),
            (
                F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))
            ).alias("duration_us"),
        )
    )

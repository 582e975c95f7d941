"""Aggregation operators (SURVEY.md §2.4, A1-A7) plus scale extensions.

All are single `groupBy().agg()` plans — Spark executes them with map-side
partial aggregation (HashAggregate → Exchange → HashAggregate), so the
shuffle carries one row per (partition, key), not per input row. That is the
property that keeps these viable on 100 TB fact tables.

Provenance: unread counts ← amplifierd/routers/sessions.py:756-789; running
counters ← sessions/manager.py:286-291; session metrics incl. argmax ←
webapp useExecutionState.ts:85-112. Collect-list per group (A5) and the
sketch aggregates (approx distinct, approx percentiles) are catalog
entries: ``a5_collect_per_group``, ``agg_percentiles``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def counts_per_key(df: DataFrame, key: str, flag_col: str | None = None) -> DataFrame:
    """A1: group-by count, optionally pre-filtered by a boolean flag
    (unread-session count per project)."""
    if flag_col is not None:
        df = df.filter(F.col(flag_col))
    return df.groupBy(key).agg(F.count("*").alias("n"))


def running_counters(
    df: DataFrame, key: str, sum_col: str, count_alias: str = "message_count",
    sum_alias: str = "token_usage",
) -> DataFrame:
    """A2: the reference's read-modify-write counters (message_count++,
    token_usage += …) become a pure aggregate view — null-safe sum. Summed
    in DECIMAL: exact and order-independent, unlike double partial-agg
    combination whose order is schedule-dependent."""
    return df.groupBy(key).agg(
        F.count("*").alias(count_alias),
        F.sum(F.col(sum_col).cast("decimal(18,4)"))
        .cast("double")
        .alias(sum_alias),
    )


def metrics(
    df: DataFrame, key: str, duration_col: str, name_col: str
) -> DataFrame:
    """A3: count / avg / max / argmax session metrics (longest tool by name).

    ``max_by`` is the idiomatic argmax; for oracle-checkable determinism
    under duplicate maxima use :func:`argmax_deterministic`.
    """
    return df.groupBy(key).agg(
        F.count("*").alias("total"),
        F.avg(duration_col).alias("avg_duration"),
        F.max(duration_col).alias("max_duration"),
        F.max_by(name_col, duration_col).alias("longest_name"),
    )


def argmax_deterministic(
    df: DataFrame, key, value_col: str, payload_cols: list[str], tiebreak: list[str]
) -> DataFrame:
    """A3 deterministic flavor: argmax via max on a (value, tiebreak...,
    payload) struct — total order even under duplicate maxima, and a single
    shuffle (no window, no self-join)."""
    keys = [key] if isinstance(key, str) else list(key)
    ordered = F.struct(
        F.col(value_col).alias("v"),
        *[F.col(c).alias(f"t{i}") for i, c in enumerate(tiebreak)],
        *[F.col(c).alias(c) for c in payload_cols],
    )
    agg = df.groupBy(*keys).agg(F.max(ordered).alias("__m"))
    return agg.select(
        *keys,
        F.col("__m.v").alias(value_col),
        *[F.col(f"__m.{c}").alias(c) for c in payload_cols],
    )


def page_stats(df: DataFrame, offset: int, limit: int) -> tuple[int, bool]:
    """A4: total count + has_more for pagination envelopes. Full count —
    only when the API contract requires ``total``; otherwise use
    :func:`page_probe`, which never scans past the page boundary."""
    total = df.count()
    return total, (offset + limit) < total


def page_probe(df: DataFrame, offset: int, limit: int) -> bool:
    """A4 (scale default): has_more via a ``LIMIT offset+limit+1`` probe —
    CollectLimit early-exits after finding one row past the page, instead of
    counting the whole table. At 100 TB a full count per page envelope is a
    full scan per request; the probe touches at most offset+limit+1 rows."""
    return df.limit(offset + limit + 1).count() > offset + limit


def duplicate_keys(df: DataFrame, *keys: str) -> DataFrame:
    """A6: uniqueness violation check (duplicate automation names per
    project)."""
    return (
        df.groupBy(*keys).agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    )



"""Filter / projection operators (SURVEY.md §2.2, F1-F11).

Reference behaviors reproduced (provenance, read-not-copied):
- AND-combined equality filters  ← amplifier_library/sessions/manager.py:385-406
- time-range + coalesce cutoff   ← manager.py:394-395, 472-487
- equality + prefix on events    ← amplifierd/routers/sessions.py:1387-1393
- case-insensitive prefix        ← amplifierd/routers/directories.py:173
- hidden-name exclusion          ← routers/directories.py:67,170
- set-membership streaming hooks ← amplifierd/hooks/__init__.py:15-26,95

All of these are single Catalyst `Filter` nodes: they push down to the
parquet scan (check `.explain()` → `PushedFilters`), which is exactly what
makes them free at 100 TB — the scan skips row groups via min/max stats.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def and_equals(df: DataFrame, **criteria) -> DataFrame:
    """F1: AND-combined equality filter; ``None`` values mean "no filter on
    this column" (the reference skips absent query params the same way)."""
    out = df
    for col, val in criteria.items():
        if val is not None:
            out = out.filter(F.col(col) == F.lit(val))
    return out


def since(df: DataFrame, col: str, ts) -> DataFrame:
    """F2: ``col >= ts`` range predicate (pushes down to parquet stats)."""
    return df.filter(F.col(col) >= F.lit(ts))


def flag(df: DataFrame, col: str, value: bool = True) -> DataFrame:
    """F3: boolean filter (unread sessions / enabled automations)."""
    return df.filter(F.col(col) == F.lit(value))


def level_and_prefix(
    df: DataFrame, level_col: str, level: str | None, event_col: str, prefix: str | None
) -> DataFrame:
    """F4: case-normalized equality on level AND prefix match on event name."""
    out = df
    if level is not None:
        out = out.filter(F.upper(F.col(level_col)) == level.upper())
    if prefix is not None:
        out = out.filter(F.col(event_col).startswith(prefix))
    return out


def ci_prefix(df: DataFrame, col: str, prefix: str) -> DataFrame:
    """F5: case-insensitive prefix filter (file-name completion)."""
    return df.filter(F.lower(F.col(col)).startswith(prefix.lower()))


def not_hidden(df: DataFrame, col: str = "name") -> DataFrame:
    """F6: exclude dot-prefixed names."""
    return df.filter(~F.col(col).startswith("."))


def in_set(df: DataFrame, col: str, values) -> DataFrame:
    """F10: set-membership filter (streamed-hook allowlist)."""
    return df.filter(F.col(col).isin(list(values)))


def safe_path(col: str | Column) -> Column:
    """F11 ← amplified_directory_service.py:459-496 + mention_loader.py:
    208-216 semantics (read, not copied): a relative path is safe iff it is
    non-empty, not absolute, and no `..` segment can escape the root. The
    reference validates driver-side per request; as a column predicate the
    same rule filters a whole path table in one scan."""
    c = F.col(col) if isinstance(col, str) else col
    no_parent = ~F.exists(F.split(c, "/"), lambda seg: seg == F.lit(".."))
    return (F.length(c) > 0) & ~c.startswith("/") & ~c.contains("\\") & no_parent


def only_safe_paths(df: DataFrame, col: str = "path") -> DataFrame:
    """F11 as a relation filter: keep rows whose path passes :func:`safe_path`."""
    return df.filter(safe_path(col))


def project(df: DataFrame, *cols: str | Column) -> DataFrame:
    """F8: projection / column pruning — with parquet this prunes the scan's
    ReadSchema, not just the result."""
    return df.select(*cols)



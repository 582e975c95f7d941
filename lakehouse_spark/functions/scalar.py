"""Scalar column functions (SURVEY.md §2.8, T1-T18 + S2-S4).

All pure Catalyst expressions — no Python UDFs — so they stay inside
whole-stage codegen and cost nothing extra at 100 TB. Each cites the
reference behavior it reproduces (read, not copied).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Portable 64-bit hash (engine addition).
#
# Spark's `hash()`/`xxhash64()` are engine-specific; the dedup/sketch
# operators need a hash the DuckDB oracle can reproduce. md5 is available
# in both engines; 15 hex chars = 60 bits, always fits in a signed BIGINT.
# DuckDB equivalent (queries.dedup_sim._hash64_sql):
# CAST('0x' || substr(md5(x), 1, 15) AS BIGINT).
#
# mode="xxhash64" is the PRODUCTION fast path: Spark's native xxHash64
# (one codegen'd integer pipeline — no hex-string materialization like
# md5+conv), masked to the same 60-bit range so every downstream consumer
# (MinHash XOR salts, pmod buckets, the 2^60 uniform scale) works
# unchanged. Not oracle-reproducible — keep md5 wherever a DuckDB parity
# check replays the hash.
# ---------------------------------------------------------------------------

_MASK60 = (1 << 60) - 1


def hash64_spark_sql(expr: str, seed: int = 0, mode: str = "md5") -> str:
    """Deterministic 60-bit hash of a string SQL expression, as Spark-SQL
    source. ``seed`` derives independent hash families from one pass;
    ``mode`` picks the engine: ``"md5"`` (cross-engine, DuckDB-replayable)
    or ``"xxhash64"`` (JVM-native fast path, same [0, 2^60) range).

    A string, not a Column chain: hot query constructors hand one
    ``expr()``/``selectExpr`` string to the JVM instead of a chain of py4j
    calls (each round-trip costs ~0.5-1 ms on a virtualized host; a MinHash
    pipeline built via the Column DSL makes hundreds of them)."""
    inner = f"concat('s{seed}:', {expr})" if seed else expr
    if mode == "xxhash64":
        return f"(xxhash64({inner}) & {_MASK60}L)"
    if mode != "md5":
        raise ValueError(f"unknown hash mode {mode!r}: use 'md5' or 'xxhash64'")
    return f"cast(conv(substring(md5({inner}), 1, 15), 16, 10) as bigint)"


def hash64(expr: str, seed: int = 0, mode: str = "md5") -> Column:
    """:func:`hash64_spark_sql` as a Column (``expr`` is SQL text)."""
    return F.expr(hash64_spark_sql(expr, seed, mode))


# --- S2: duration --------------------------------------------------------


def duration_ms(end_col: Column, start_col: Column, scale: int = 2) -> Column:
    """S2 ← trace_aggregator.py:152-155: end - start, rounded."""
    return F.round(end_col - start_col, scale)


# --- S3: payload truncation ----------------------------------------------


def truncate_payload(col: Column | str, max_len: int = 1000) -> Column:
    """S3 ← trace_aggregator.py:41-53: cap long result/error strings and
    mark the cut with a '... (truncated)' suffix."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.length(c) > max_len,
        F.concat(F.substring(c, 1, max_len), F.lit("... (truncated)")),
    ).otherwise(c)


# --- S4: ISO timestamp → epoch millis -------------------------------------


def iso_to_millis(col: Column | str) -> Column:
    """S4 ← trace_aggregator.py:24-38: tz-aware ISO-8601 parse to epoch
    milliseconds; unparseable values map to 0 (the reference's fallback)."""
    c = F.col(col) if isinstance(col, str) else col
    # try_to_timestamp: ANSI mode makes to_timestamp THROW on garbage; the
    # reference maps unparseable → 0 and keeps going.
    return F.coalesce(F.unix_millis(F.try_to_timestamp(c)), F.lit(0).cast("long"))


# --- T6/T5: string helpers are plain builtins (substring/lower/upper) ------

# --- T8/T7: timestamp format/arithmetic are plain builtins -----------------


# --- T9: interval-string parse --------------------------------------------


def interval_to_seconds(col: Column | str) -> Column:
    """T9 ← automation_scheduler.py:273-318: parse '^(\\d+)([smhd])$' into
    seconds; malformed inputs → NULL (the reference raises; a column function
    signals with NULL and the caller filters/validates)."""
    c = F.col(col) if isinstance(col, str) else col
    # try_cast: regexp_extract yields '' on no-match, which ANSI cast rejects
    qty = F.regexp_extract(c, r"^(\d+)([smhd])$", 1).try_cast("long")
    unit = F.regexp_extract(c, r"^(\d+)([smhd])$", 2)
    mult = (
        F.when(unit == "s", 1)
        .when(unit == "m", 60)
        .when(unit == "h", 3600)
        .when(unit == "d", 86400)
    )
    return (qty * mult).cast("long")


# --- T12: id generation ----------------------------------------------------


def short_id() -> Column:
    """T12 ← routers/sessions.py:307-309: uuid4().hex[:8]-style short id.
    Nondeterministic — never feed into oracle-hashed outputs."""
    return F.substring(F.regexp_replace(F.expr("uuid()"), "-", ""), 1, 8)


def child_span_id(parent: Column, span: Column, agent: Column) -> Column:
    """T12 ← sessions/spawner.py:58-75: W3C-trace-style child id
    '{parent}-{span16}_{agent}'."""
    return F.concat(parent, F.lit("-"), span, F.lit("_"), agent)


# --- T13: path functions ----------------------------------------------------


def path_last_segment(col: Column | str) -> Column:
    """T13: last path segment (split('/')[-1])."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring_index(c, "/", -1)


def path_parent(col: Column | str) -> Column:
    """T13: parent directory ('' for top-level paths)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.contains("/"), F.regexp_replace(c, r"/[^/]*$", "")).otherwise(
        F.lit("")
    )


def strip_suffix(col: Column | str, suffix: str) -> Column:
    """T13: removesuffix() — strip only when present, only at the end."""
    c = F.col(col) if isinstance(col, str) else col
    import re

    return F.regexp_replace(c, re.escape(suffix) + "$", "")


def path_depth(col: Column | str) -> Column:
    """Depth of a relative path = number of '/'-separated segments; used to
    reproduce the reference's depth-10 scan cap (amplified_directory_service
    .py:252-257) as a partition-prunable filter."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(c, "/"))


# --- T1/T2: @mention extraction -------------------------------------------

# The reference's pipeline (utils/mentions.py:23-78, read-not-copied) is
# ORDER SENSITIVE: (1) remove inline code spans `...` (EMPTY replacement —
# "a`x`@b" joins to "a@b", whose lookbehind then rejects the mention),
# (2) extract quoted mentions @"path with spaces" (alnum lookbehind too),
# (3) remove them, (4) remove remaining plain "..." and '...' strings so
# quoted non-mentions never feed the simple pass, (5) extract simple
# mentions, dropping the literal word "mention" (simple pass only).
_SIMPLE_MENTION = r"(?<![a-zA-Z0-9])@([a-zA-Z0-9_\-/\.:]+)"
_QUOTED_MENTION = r'(?<![a-zA-Z0-9])@"([^"]+)"'


def extract_mentions(col: Column | str) -> Column:
    """T1: ordered mention extraction; returns ARRAY<STRING> of raw targets
    (quoted first, then simple) without the '@' prefix — same observable
    content and order as the reference's parse_mentions."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(c, r"`[^`\n]+`", "")  # inline code, joined
    quoted = F.regexp_extract_all(cleaned, F.lit(_QUOTED_MENTION), 1)
    rest = F.regexp_replace(cleaned, _QUOTED_MENTION, "")
    rest = F.regexp_replace(rest, r'"[^"\n]*"', "")  # plain double-quoted
    rest = F.regexp_replace(rest, r"'[^'\n]*'", "")  # plain single-quoted
    simple = F.regexp_extract_all(rest, F.lit(_SIMPLE_MENTION), 1)
    # only the SIMPLE pass drops the generic keyword; a quoted @"mention"
    # survives, as in the reference
    return F.concat(
        quoted, F.filter(simple, lambda m: m != F.lit("mention"))
    )


def normalize_mention(col: Column | str) -> Column:
    """T2 ← utils/mentions.py:79-104: strip leading '@' and surrounding
    quotes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, r"^@", ""), r'^"(.*)"$', r"$1")


_SIMPLE_PATH = r"^[a-zA-Z0-9_\-/\.:]+$"


def quote_mention(col: Column | str) -> Column:
    """T3 ← utils/mentions.py:127-165: render a path back to mention syntax —
    plain ``@path`` iff every char is in the simple-mention class, else the
    quoted form ``@"path"``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.rlike(_SIMPLE_PATH), F.concat(F.lit("@"), c)).otherwise(
        F.concat(F.lit('@"'), c, F.lit('"'))
    )


# --- T14: nested navigation is plain col("a.b.c") --------------------------
# --- T17: to_json/from_json are plain builtins ------------------------------


# --- T11: 12h ↔ 24h conversion ---------------------------------------------


def hour_12_to_24(hour: Column | str, meridiem: Column | str) -> Column:
    """T11 ← webapp cronUtils.ts:29-70 semantics: (12h clock, AM|PM) →
    24h hour, with the midnight (12 AM → 0) and noon (12 PM → 12) edge
    cases. Case-insensitive meridiem; invalid hours → NULL."""
    h = (F.col(hour) if isinstance(hour, str) else hour).cast("int")
    m = F.upper(F.col(meridiem) if isinstance(meridiem, str) else meridiem)
    base = F.when(h == 12, 0).otherwise(h)
    out = F.when(m == "AM", base).when(m == "PM", base + 12)
    return F.when((h >= 1) & (h <= 12), out).otherwise(F.lit(None).cast("int"))


def hour_24_to_12(hour: Column | str) -> Column:
    """T11 inverse: 24h hour → STRUCT(hour12, meridiem)."""
    h = (F.col(hour) if isinstance(hour, str) else hour).cast("int")
    hour12 = F.when(h % 12 == 0, 12).otherwise(h % 12)
    meridiem = F.when(h < 12, "AM").otherwise(F.lit("PM"))
    valid = (h >= 0) & (h <= 23)
    return F.when(
        valid, F.struct(hour12.alias("hour12"), meridiem.alias("meridiem"))
    ).otherwise(F.lit(None))

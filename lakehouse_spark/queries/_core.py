from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from lakehouse_spark.io import load_table


@dataclass
class QuerySpec:
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only
    headline: bool = False  # include in bench.py timing suite
    doc: str = ""


CATALOG: dict[str, QuerySpec] = {}


def _q(name: str, oracle: str | None, headline: bool = False, doc: str = ""):
    def reg(fn):
        CATALOG[name] = QuerySpec(fn, oracle, headline, doc)
        return fn

    return reg


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dsum_sql(expr: str, digits: int = 2) -> str:
    """Order-independent rounded sum for money/quantity columns, as SQL
    source valid in both Spark and DuckDB.

    Double summation order is schedule-dependent (partial-aggregate combine
    order varies with partitioning), so round(sum(double), 2) can flip a
    cent between runs/engines whenever a group's true sum sits near a
    half-cent boundary — ~1% of groups at 100-row group sizes (measured on
    tpch_q7: 4 of 600 groups). Summing in DECIMAL is exact and
    order-independent. The 18,4 input widens automatically during
    aggregation in both engines."""
    return (
        f"CAST(round(sum(CAST(({expr}) AS DECIMAL(18,4))), {digits})"
        " AS DOUBLE)"
    )


def _davg_sql(expr: str, digits: int = 4) -> str:
    """Order-independent rounded mean: exact decimal sum, one double
    division (deterministic), then round."""
    return (
        f"round(CAST(sum(CAST(({expr}) AS DECIMAL(18,4))) AS DOUBLE)"
        f" / count({expr}), {digits})"
    )


def _ssum_sql(expr: str, digits: int = 2, scale: int = 10000) -> str:
    """Order-independent rounded sum at INT64 speed: the value is snapped to
    a 1/scale grid (exact for money/quantity columns with <= 4 decimal
    digits), summed as bigint (exact, order-independent, no decimal-kernel
    cost — decimal sums measured ~2x slower on the 8-agg flagship query),
    HALF-UP rounded to the 10^-digits grid IN INT64, then divided back by
    one shared double division. The earlier form ``round(sum_bigint /
    10000.0, 2)`` diverged from DuckDB in the last ulp once group totals
    passed ~1e14 grid units (caught by the round-10 sf0.1 sweep on
    agg_grouping_sets): engine ``round(double, 2)`` implementations differ
    there, so rounding must happen BEFORE the value ever becomes a double.
    int64 overflow bound: |sum(x)| * scale < 9.2e18 — fine to ~1e14 in
    column units; use :func:`_dsum_sql` where totals can exceed that.

    The same string serves both engines: bigint remainder carries the
    dividend's sign in BOTH, so the sign split makes the snap
    HALF-UP-away-from-zero exactly. The aggregate sub-expression repeats
    textually; engines dedupe identical aggregates so it computes once.
    ``CAST(scale AS DOUBLE)`` (not a ``10000.0`` literal) because a bare
    decimal literal is DECIMAL typed in Spark SQL."""
    s = f"sum(CAST(round(({expr}) * {scale}) AS BIGINT))"
    mod = scale // (10**digits)
    if mod > 1:
        half = mod // 2
        s = (
            f"(CASE WHEN {s} >= 0"
            f" THEN ({s} + {half}) - ({s} + {half}) % {mod}"
            f" ELSE -((-{s} + {half}) - (-{s} + {half}) % {mod}) END)"
        )
    return f"CAST({s} AS DOUBLE) / CAST({scale} AS DOUBLE)"


def _savg_sql(expr: str, digits: int = 4, scale: int = 10000) -> str:
    """Scaled-int mean, same exactness argument as :func:`_ssum_sql`; the
    single double division is bit-identical across engines, and the final
    ``round(double, d)`` does NOT carry the sum's sf-bump hazard: a mean's
    magnitude is data-valued (constant in sf), so it never grows into the
    ~1e10+ range where engine round(double) implementations diverge — the
    time bomb was group TOTALS growing with scale, which a /count cancels.
    ``CAST(scale AS DOUBLE)`` for the reason given on :func:`_ssum_sql`."""
    return (
        f"round(sum(CAST(round(({expr}) * {scale}) AS BIGINT))"
        f" / (CAST({scale} AS DOUBLE) * count({expr})), {digits})"
    )

"""Query catalog: every implemented operator as a named (Spark builder,
DuckDB oracle SQL) pair over the driver's testdata tables.

This is the correctness gate's contract (see __spark_entry__.py): the driver
runs each builder on Spark and the oracle SQL on DuckDB at sf0.01 and
compares row counts, schemas, and order-insensitive value hashes.

Cross-engine determinism rules applied throughout:
- every aggregate/computed column is aliased IDENTICALLY on both sides;
- every float is rounded (4 decimals; 6 for cosine) on BOTH sides;
- every LIMIT sits on a TOTAL order (explicit tie-break columns);
- sums of integers are cast to BIGINT on the DuckDB side (DuckDB widens to
  INT128 where Spark stays INT64);
- row_number outputs are cast to INTEGER on the DuckDB side (Spark emits
  INT32);
- the shared 60-bit hash is md5-based: Spark `conv(substr(md5(x),1,15),16,10)`
  == DuckDB `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`
  (functions.scalar.hash64_spark_sql / dedup_sim._hash64_sql).

Layout: entries register into ``CATALOG`` (defined in :mod:`._core`) at
import time, one domain module each — :mod:`.tpch` (analytical shapes),
:mod:`.scalars_filters` / :mod:`.aggregates_sorts` / :mod:`.sessions_graph`
(the reference engine's own surface), :mod:`.pipeline` (text / curation /
multimodal training-data operators), :mod:`.dedup_sim` (near-dup and
similarity-search operators). Entry NAMES are the driver's stable contract — never rename.
"""

from __future__ import annotations

from lakehouse_spark.queries._core import CATALOG, QuerySpec

# Importing the domain modules registers their entries into CATALOG.
from lakehouse_spark.queries import (  # noqa: E402,F401  (import-for-effect)
    aggregates_sorts,
    behavior,
    dedup_sim,
    pipeline,
    ranking,
    scalars_filters,
    sessions_graph,
    stats_profile,
    tpch,
)

# sqlfront reuses tpch oracle texts, so it must import AFTER tpch.
from lakehouse_spark.queries import sqlfront  # noqa: E402,F401

__all__ = ["CATALOG", "QuerySpec", "headline_queries"]


def headline_queries() -> dict[str, QuerySpec]:
    return {k: v for k, v in CATALOG.items() if v.headline}

"""Sort / limit / top-k / pagination operators (SURVEY.md §2.6, O1-O9).

Scale notes
-----------
- ``orderBy().limit(n)`` compiles to ``TakeOrderedAndProject`` — a per-
  partition top-n plus a single-reduce merge. No global sort materializes,
  which is what makes "newest 10 of 100 TB" cheap.
- Offset pagination (O2/O3) uses Spark's native ``offset`` (Spark >= 3.4),
  which composes with limit into a single CollectLimit; for deep pages at
  scale prefer keyset pagination (:func:`page_after`) — O(page) instead of
  O(offset+page).
- Tail-N per group (O4) is a bounded window — one shuffle on the group key,
  no global sort.

Provenance (read, not copied): sort desc + limit ←
amplifier_library/sessions/manager.py:408-414; offset/limit ←
automations/manager.py:353-357; tail-N ← manager.py:343-345. The
multi-key heterogeneous sort (O5) and the global re-sort (O7) are catalog
entries (``o5_completion_sort``, ``o7_global_sort``); delete-last (O9) is
a store operation (``mutation/dml.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_n(df: DataFrame, order: list[Column], n: int) -> DataFrame:
    """O1: sort + limit → TakeOrderedAndProject (per-partition top-n, single
    merge; no global sort). Pass explicit tie-break columns in ``order`` so
    results are deterministic for the oracle."""
    return df.orderBy(*order).limit(n)


def page(df: DataFrame, order: list[Column], offset: int, limit: int) -> DataFrame:
    """O2/O3: offset/limit pagination over a total order."""
    return df.orderBy(*order).offset(offset).limit(limit)


def page_after(
    df: DataFrame, order_col: str, after, limit: int, desc: bool = True
) -> DataFrame:
    """Keyset pagination — the scale-correct alternative to deep offsets:
    filter past the last-seen key, then top-n. O(page), stateless."""
    pred = F.col(order_col) < F.lit(after) if desc else F.col(order_col) > F.lit(after)
    order = F.col(order_col).desc() if desc else F.col(order_col).asc()
    return df.filter(pred).orderBy(order).limit(limit)


def keyset_page(
    df: DataFrame,
    order_cols: list[str],
    after: tuple | None,
    limit: int,
    desc: bool = False,
) -> DataFrame:
    """Keyset pagination over a COMPOSITE total order (e.g. (ts,
    encounter_seq)): rows lexicographically past ``after``, then top-n.
    ``after=None`` returns the first page. O(page) per request at any depth —
    a deep offset page re-sorts and skips offset rows on every call, which
    at 100 TB makes page 10_000 cost 10_000× page 1; this stays flat. The
    strictly-greater predicate is pushed to the scan (min/max pruning skips
    whole files before the sort)."""
    if after is not None:
        if len(after) != len(order_cols):
            raise ValueError(f"after must have {len(order_cols)} values")
        # lexicographic "past the cursor": (c0 > a0) OR (c0 = a0 AND (c1 > a1 ...))
        pred = F.lit(False)
        for i in range(len(order_cols) - 1, -1, -1):
            c, a = F.col(order_cols[i]), F.lit(after[i])
            step = (c < a) if desc else (c > a)
            pred = step | ((c == a) & pred)
        df = df.filter(pred)
    order = [
        F.col(c).desc() if desc else F.col(c).asc() for c in order_cols
    ]
    return df.orderBy(*order).limit(limit)


def tail_n(
    df: DataFrame, group: str, order: list[Column], n: int, rn_col: str = "__rn"
) -> DataFrame:
    """O4: last N rows per group in log order (e.g. last N transcript
    messages per session). ``order`` must be the DESCENDING order (newest
    first); output keeps the original columns, re-sortable by the caller.

    Window top-n per key = single shuffle on ``group``; Spark inserts a
    ``WindowGroupLimit`` (rank-limit pushdown) so each partition keeps only
    n rows per key before the final window — no full materialization.
    """
    w = Window.partitionBy(group).orderBy(*order)
    return (
        df.withColumn(rn_col, F.row_number().over(w))
        .filter(F.col(rn_col) <= n)
        .drop(rn_col)
    )



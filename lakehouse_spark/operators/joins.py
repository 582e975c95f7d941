"""Join operators (SURVEY.md §2.3, J1-J10).

Every reference join is an equi join or an iterative hierarchy walk; Spark
gets physical strategy (broadcast vs sort-merge vs shuffled-hash) from
Catalyst + AQE. Our job here is to give the optimizer the right hints:

- **Broadcast the small side explicitly** for dimension joins: at 100 TB the
  fact side never moves, only the dim ships to executors.
- **Semi/anti joins** for existence checks — never a join+distinct, which
  would shuffle the big side twice.
- Recursive closure lives in :mod:`lakehouse_spark.plans.closure` (a
  driver walk for small graphs, iterative frontier joins for large ones).

Provenance: index semi-join fetch ← sessions/manager.py:383-406; parent→child
self-join ← manager.py:404; FK lookup ← automation_scheduler.py:379-390;
history join ← routers/automations.py:583-604; union+re-sort ←
routers/sessions.py:1376-1384.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def semi_fetch(full: DataFrame, keys: DataFrame, key: str) -> DataFrame:
    """J1: the reference's "filter the lightweight index, then load full rows
    by id" becomes a left-semi join; broadcast the (small, filtered) key set
    so the fact table is filtered in place with zero shuffle."""
    return full.join(F.broadcast(keys.select(key).distinct()), key, "left_semi")


def fk_lookup(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str, how: str = "left"
) -> DataFrame:
    """J5: FK lookup join with an explicit broadcast of the dimension."""
    return fact.join(F.broadcast(dim), fact[fact_key] == dim[dim_key], how)


def history(
    parent: DataFrame, log: DataFrame, key: str, order_col: str
) -> DataFrame:
    """J6: 1:N history join, newest-first (automation → executions)."""
    return parent.join(log, key, "inner").orderBy(F.desc(order_col))


def union_resort(a: DataFrame, b: DataFrame, order_col: str) -> DataFrame:
    """J7: concat two logs and re-establish a global time order."""
    return a.unionByName(b, allowMissingColumns=True).orderBy(order_col)


def anti(df: DataFrame, visited: DataFrame, key: str) -> DataFrame:
    """D4/J4 building block: drop rows whose key already appears in
    ``visited`` (BFS visited-set, cascade-delete candidates)."""
    return df.join(visited.select(key).distinct(), key, "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """As-of join: attach to each left row the most recent right row with
    ``right_ts`` STRICTLY before ``left_ts`` on the same key (backward,
    strict — the attribution/"latest prior reading" shape).

    Scale design — the merge-join formulation, not a range join: tag both
    inputs, union them, and run ONE window per key ordered by (ts, side).
    That is a single shuffle on ``key`` with no range-condition blow-up
    (a naive ``l.key = r.key AND r.ts < l.ts`` join materializes every
    prior-row pair — O(n·m) per key — before aggregating it back down; at
    100 TB that intermediate is the whole job). The carried value is a
    running ``max`` over a struct ordered by ``right_ts`` — Spark's struct
    ordering makes "latest prior right row" a plain streaming window
    aggregate that AQE can also skew-split per key.

    Right rows sort AFTER left rows at equal timestamps (left side=0,
    right side=1, ascending), so a right row at exactly ``left_ts`` is NOT
    visible to that left row — strictly-prior semantics, matching DuckDB
    ``ASOF JOIN ... ON l.ts > r.ts`` for the oracle.

    ``right`` must share only ``key`` with ``left``'s column names; all its
    other columns come back nullable (no prior row → nulls), preserving
    their names.
    """
    payload = [c for c in right.columns if c != key]
    r = right.select(
        key,
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(F.col(right_ts).alias("__ord"), *payload).alias("__r"),
    )
    l = left.select(
        "*", F.col(left_ts).alias("__ts"), F.lit(0).alias("__side")
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("__last", F.max("__r").over(w))
    return carried.filter(F.col("__side") == 0).select(
        *left.columns, *[F.col(f"__last.{c}").alias(c) for c in payload]
    )


def range_bucket_join(
    events: DataFrame,
    windows: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    grain: str = "day",
    broadcast_windows: bool = True,
) -> DataFrame:
    """Interval-containment join with NO equi key ("which events fall inside
    each time window"), made shuffle-free at scale by bucketizing time:

    1. every window row explodes into the ``grain`` buckets it covers
       (a 24 h window at day grain → ≤ 2 rows);
    2. every event maps to exactly ONE bucket (``date_trunc(grain, ts)``);
    3. equi-join on the bucket, then apply the exact half-open range
       predicate ``start <= ts < end`` as a post-join filter.

    Because an event has exactly one bucket, a (window, event) pair can
    match through at most one bucket — no post-join dedup. A naive theta
    join here is a cartesian product (Catalyst has no equi key to hash on);
    this plan is a BroadcastHashJoin (windows side exploded then broadcast)
    or, for large window tables, a shuffled hash join on the bucket column.
    Pick ``grain`` so windows explode into O(1) buckets.

    Returns the matched (event row ⨯ window row) pairs; aggregate outside.
    """
    # Inverted (dirty) windows would make sequence() throw at runtime
    # (negative range, positive step); they should match nothing instead.
    win_b = windows.filter(F.col(end_col) >= F.col(start_col)).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.date_trunc(grain, F.col(start_col)),
                F.date_trunc(grain, F.col(end_col)),
                F.expr(f"INTERVAL 1 {grain.upper()}"),
            )
        ),
    )
    if broadcast_windows:
        win_b = F.broadcast(win_b)
    ev_b = events.withColumn("__bucket", F.date_trunc(grain, F.col(ts_col)))
    return (
        ev_b.join(win_b, "__bucket")
        .filter(
            (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
        )
        .drop("__bucket")
    )

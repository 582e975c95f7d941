"""The reference engine's join, window, sessionization,
recursion and scheduling surface (SURVEY.md §2 J/W/S/CR series),
re-expressed Spark-first.

Each entry pairs a Spark DataFrame builder with a DuckDB oracle over the
driver testdata; determinism rules are in the package docstring
(lakehouse_spark/queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_spark.functions.scalar import truncate_payload
from lakehouse_spark.operators import joins, sorts
from lakehouse_spark.operators.sessionize import (
    pair_tool_events,
    turn_number,
    turn_stats,
)
from lakehouse_spark.plans import closure
from lakehouse_spark.queries._core import (
    _davg_sql,
    _q,
    _ssum_sql,
    _t,
)
from lakehouse_spark.session import local_frame


@_q(
    "j1_semi_join_fetch",
    """
    SELECT l_returnflag, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders
      WHERE o_orderstatus = 'F' AND o_totalprice > 300000)
    GROUP BY l_returnflag
    """,
    doc="J1: index-filter-then-fetch as broadcast left-semi join",
)
def j1_semi_join_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    keys = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 300000)
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    fetched = joins.semi_fetch(li, keys, "l_orderkey")
    return fetched.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n"),
    )


@_q(
    "j2_parent_child_self_join",
    """
    SELECT c.c_custkey AS child_key, p.c_custkey AS parent_key, p.c_name AS parent_name
    FROM customer c JOIN customer p ON p.c_custkey = c.c_custkey // 2
    WHERE c.c_custkey < 60
    """,
    doc="J2: parent→child self-join over a synthetic key-halving hierarchy",
)
def j2_parent_child_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    child = cust.filter(F.col("c_custkey") < 60).select(
        F.col("c_custkey").alias("child_key"),
        F.floor(F.col("c_custkey") / 2).cast("long").alias("parent_key"),
    )
    parent = cust.select(
        F.col("c_custkey").alias("parent_key"), F.col("c_name").alias("parent_name")
    )
    return child.join(F.broadcast(parent), "parent_key").select(
        "child_key", "parent_key", "parent_name"
    )


@_q(
    "j3_recursive_descendants",
    """
    WITH RECURSIVE r(custkey, depth) AS (
      SELECT CAST(1 AS BIGINT), 0
      UNION ALL
      SELECT c.c_custkey, r.depth + 1
      FROM customer c JOIN r ON c.c_custkey // 2 = r.custkey
      WHERE r.depth < 4 AND c.c_custkey > 1
    )
    SELECT custkey, depth FROM r
    """,
    doc="J3: recursive hierarchy closure — iterative frontier join vs WITH RECURSIVE",
)
def j3_recursive_descendants(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    edges = cust.select(
        F.floor(F.col("c_custkey") / 2).cast("long").alias("parent"),
        F.col("c_custkey").alias("child"),
    ).filter(F.col("child") > 1)
    seeds = local_frame(spark, [(1,)], "child long")
    out = closure.descendants(edges, seeds, "parent", "child", max_depth=4)
    return out.select(
        F.col("child").alias("custkey"), F.col("depth").cast("int").alias("depth")
    )


@_q(
    "j3_clone_remap",
    """
    WITH RECURSIVE r(custkey, depth) AS (
      SELECT CAST(1 AS BIGINT), 0
      UNION ALL
      SELECT c.c_custkey, r.depth + 1
      FROM customer c JOIN r ON c.c_custkey // 2 = r.custkey
      WHERE r.depth < 4 AND c.c_custkey > 1
    ), m AS (
      SELECT custkey, depth,
             'session_' || substr(sha256('42:' || CAST(custkey AS VARCHAR)), 1, 8)
               AS new_id
      FROM r
    )
    SELECT m.new_id, p.new_id AS new_parent_id, m.depth
    FROM m LEFT JOIN m p ON m.custkey > 1 AND p.custkey = m.custkey // 2
    """,
    doc="J3→clone composition (reference clone endpoint, "
    "amplifierd/routers/sessions.py:461-516): subtree closure + seeded "
    "fresh-id mapping + parent-pointer REMAP onto the new ids; the cloned "
    "root's parent is NULL. Seeded sha256 ids make the clone replayable "
    "cross-engine; SessionLake.clone_session applies the same plan to the "
    "session/message/event stores",
)
def j3_clone_remap(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    edges = cust.select(
        F.floor(F.col("c_custkey") / 2).cast("long").alias("parent"),
        F.col("c_custkey").alias("child"),
    ).filter(F.col("child") > 1)
    seeds = local_frame(spark, [(1,)], "child long")
    sub = closure.descendants(edges, seeds, "parent", "child", max_depth=4)
    mapping = closure.clone_id_mapping(sub.select("child"), "child", seed="42")
    parents = mapping.select(
        F.col("child").alias("__pkey"), F.col("new_id").alias("new_parent_id")
    )
    return (
        sub.join(mapping, "child")
        .withColumn(
            "__pkey",
            F.when(
                F.col("child") > 1, F.floor(F.col("child") / 2).cast("long")
            ),
        )
        .join(F.broadcast(parents), "__pkey", "left")
        .select(
            "new_id", "new_parent_id", F.col("depth").cast("int").alias("depth")
        )
    )


@_q(
    "j5_fk_lookup_chain",
    """
    SELECT r_name, n_name, count(*) AS n_cust, round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(c_acctbal), 4) AS avg_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    headline=True,
    doc="J5: FK lookup chain with broadcast dimensions",
)
def j5_fk_lookup_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = joins.fk_lookup(cust, nation, "c_nationkey", "n_nationkey", "inner")
    j = joins.fk_lookup(j, region, "n_regionkey", "r_regionkey", "inner")
    return j.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_cust"), F.expr(_davg_sql("c_acctbal")).alias("avg_bal")
    )


@_q(
    "j6_history_topk",
    """
    SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ORDER BY l_shipdate DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
    doc="J6: 1:N history join, newest-first, total-order limit",
)
def j6_history_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    j = joins.history(
        orders.select("o_orderkey", "o_orderdate"),
        li.select(F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_shipdate"),
        "o_orderkey",
        "l_shipdate",
    )
    return sorts.top_n(
        j, [F.desc("l_shipdate"), F.asc("o_orderkey"), F.asc("l_linenumber")], 20
    ).select(
        F.col("o_orderkey").alias("l_orderkey"), "l_linenumber", "l_shipdate", "o_orderdate"
    )


@_q(
    "j7_union_resort",
    """
    SELECT event_type, count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts
    FROM (
      SELECT * FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT * FROM events WHERE event_type = 'error'
    )
    GROUP BY event_type
    """,
    doc="J7: union of two log slices + re-aggregation over global order",
)
def j7_union_resort(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    merged = joins.union_resort(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "error"),
        "ts",
    )
    return merged.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@_q(
    "w1_turn_numbering",
    """
    SELECT event_id, user_id,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS turn_id
    FROM events
    """,
    headline=True,
    doc="W1: marker running-count turn assignment",
)
def w1_turn_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = turn_number(
        ev, "user_id", [F.asc("ts"), F.asc("event_id")], F.col("event_type") == "signup"
    )
    return out.select("event_id", "user_id", "turn_id")


@_q(
    "w2_pre_post_pairing",
    """
    WITH c AS (
      SELECT user_id, event_id, ts, CAST(row_number() OVER (
        PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rn
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, event_id, ts, CAST(row_number() OVER (
        PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rn
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.rn AS pair_rn, c.event_id AS pre_event_id,
           p.event_id AS post_event_id,
           date_diff('microsecond', c.ts, p.ts) AS gap_us
    FROM c JOIN p ON c.user_id = p.user_id AND c.rn = p.rn
    """,
    headline=True,
    doc="W2: i-th pre ↔ i-th post pairing (tool:pre/tool:post shape)",
)
def w2_pre_post_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        "event_type IN ('click', 'purchase')"
    ).select("user_id", "event_type", "event_id", "ts")
    paired = pair_tool_events(
        ev,
        keys=["user_id"],
        kind_col="event_type",
        order=[F.asc("ts"), F.asc("event_id")],
        pre_kind="click",
        post_kind="purchase",
        rank_col="pair_rn",
    )
    return paired.filter("event_id_post IS NOT NULL").selectExpr(
        "user_id",
        "pair_rn",
        "event_id as pre_event_id",
        "event_id_post as post_event_id",
        # exact integer microseconds: float seconds would round differently
        # across engines at the ms boundary
        "(unix_micros(ts_post) - unix_micros(ts)) as gap_us",
    )


@_q(
    "s1_sessionize_flat",
    """
    WITH numbered AS (
      SELECT user_id, ts, value,
             CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS turn_id
      FROM events
    )
    SELECT user_id, turn_id, count(*) AS n_events,
           min(ts) AS turn_start, max(ts) AS turn_end,
           CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS value_sum
    FROM numbered GROUP BY user_id, turn_id
    """,
    headline=True,
    doc="S1 (flattened): marker sessionization → per-turn stats",
)
def s1_sessionize_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return turn_stats(
        ev,
        "user_id",
        "ts",
        [F.asc("ts"), F.asc("event_id")],
        F.col("event_type") == "signup",
        "value",
    )


@_q(
    "s3_truncation",
    """
    SELECT doc_id,
           CAST(length(CASE WHEN length(text) > 100
                  THEN substr(text, 1, 100) || '... (truncated)'
                  ELSE text END) AS BIGINT) AS trunc_len,
           length(text) > 100 AS is_truncated
    FROM documents
    """,
    doc="S3: payload truncation with suffix",
)
def s3_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(truncate_payload("text", 100)).cast("long").alias("trunc_len"),
        (F.length("text") > 100).alias("is_truncated"),
    )


@_q(
    "j9_nearest_ancestor",
    """
    WITH nodes AS (
      SELECT 'seg/' || c_mktsegment || '/' || CAST(c_custkey AS VARCHAR) AS path
      FROM customer WHERE c_custkey <= 200
    ), dirs AS (
      SELECT DISTINCT 'seg/' || c_mktsegment AS dpath, lower(c_mktsegment) AS attr
      FROM customer
      UNION ALL SELECT 'seg', 'root'
    ), hits AS (
      SELECT n.path, d.attr, length(d.dpath) AS l
      FROM nodes n JOIN dirs d
        ON n.path = d.dpath OR starts_with(n.path, d.dpath || '/')
    )
    SELECT path, max_by(attr, l) AS inherited_default_profile
    FROM hits GROUP BY path
    """,
    doc="J9: nearest-ancestor attribute inheritance (longest path-prefix match)",
)
def j9_nearest_ancestor(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nodes = cust.filter(F.col("c_custkey") <= 200).select(
        F.concat(
            F.lit("seg/"), F.col("c_mktsegment"), F.lit("/"), F.col("c_custkey")
        ).alias("path")
    )
    dirs = (
        cust.select(
            F.concat(F.lit("seg/"), F.col("c_mktsegment")).alias("path"),
            F.lower(F.col("c_mktsegment")).alias("default_profile"),
        )
        .distinct()
        .unionByName(
            spark.createDataFrame([("seg", "root")], "path string, default_profile string")
        )
    )
    return closure.nearest_ancestor_attr(nodes, dirs, "path", "default_profile")


@_q(
    "w3_lag_gaps",
    """
    SELECT user_id,
           count(*) AS n_gaps,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM (
      SELECT user_id,
             date_diff('microsecond',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts) AS gap_us
      FROM events)
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
    doc="W3/lag: event-gap analysis via lag window over per-user time order",
)
def w3_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "gap_us", F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("user_id").agg(
        F.count("*").alias("n_gaps"), F.max("gap_us").alias("max_gap_us")
    )


@_q(
    "s4_iso_millis",
    """
    SELECT event_type,
           CAST(sum(ms) AS BIGINT) AS sum_ms,
           CAST(sum(CASE WHEN ms = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unparseable
    FROM (
      SELECT event_type,
             coalesce(epoch_ms(try_cast(
               CASE WHEN event_id % 97 = 0 THEN 'not-a-time'
                    ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S') END AS TIMESTAMP)), 0) AS ms
      FROM events)
    GROUP BY event_type
    """,
    doc="S4: ISO-8601 parse to epoch millis, unparseable → 0 (reference fallback)",
)
def s4_iso_millis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.functions.scalar import iso_to_millis

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("event_id") % 97 == 0, F.lit("not-a-time"))
        .otherwise(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
        .alias("iso"),
    )
    return (
        ev.withColumn("ms", iso_to_millis("iso"))
        .groupBy("event_type")
        .agg(
            F.sum("ms").alias("sum_ms"),
            F.sum(F.when(F.col("ms") == 0, 1).otherwise(0)).alias("n_unparseable"),
        )
    )


@_q(
    "trace_turn_counts",
    None,  # applyInPandas marker fold over synthesized trace events
    doc="S1 exact fold: driver events re-shaped into trace events → nested turns",
)
def trace_turn_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshape the driver's generic events into TRACE_EVENT form (signup→
    prompt:submit, click→tool:pre, purchase→tool:post, view→thinking:delta,
    error→session:end) and run the full stateful fold."""
    from lakehouse_spark.operators.sessionize import aggregate_trace

    ev = _t(spark, sf_dir, "events")
    mapped = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("session_id"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").alias("ts"),
        F.lit("INFO").alias("lvl"),
        F.when(F.col("event_type") == "signup", "prompt:submit")
        .when(F.col("event_type") == "click", "tool:pre")
        .when(F.col("event_type") == "purchase", "tool:post")
        .when(F.col("event_type") == "view", "thinking:delta")
        .otherwise("session:end")
        .alias("event"),
        F.struct(
            F.lit("go").alias("prompt"),
            F.lit("tool").alias("tool_name"),
            F.create_map(F.lit("k"), F.col("props")).alias("tool_input"),
            F.lit("g0").alias("parallel_group_id"),
            F.lit("d").alias("delta"),
            F.struct(
                F.lit(True).alias("success"),
                F.lit("done").alias("output"),
                F.struct(F.lit(None).cast("string").alias("message")).alias("error"),
            ).alias("result"),
        ).alias("data"),
        F.col("event_id").alias("encounter_seq"),
    )
    turns = aggregate_trace(mapped)
    return turns.select(
        "session_id",
        "turn_id",
        "status",
        F.size("tools").alias("n_tools"),
        F.size("thinking").alias("n_thinking"),
    )


@_q(
    "cron_next_fire",
    None,  # needs a cron evaluator; no SQL equivalent
    doc="T10/CR2: vectorized cron/interval/once next-fire computation",
)
def cron_next_fire(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    from lakehouse_spark.functions.cron import next_execution_udf

    rows = [
        ("a1", "cron", "0 9 * * *"),
        ("a2", "cron", "*/30 * * * *"),
        ("a3", "cron", "0 0 1 * *"),
        ("a4", "interval", "30m"),
        ("a5", "interval", "2h"),
        ("a6", "once", "2030-06-01T12:00:00+00:00"),
        ("a7", "cron", "15 14 * * 1-5"),
        ("a8", "interval", "bogus"),
    ]
    df = spark.createDataFrame(rows, "id string, schedule_type string, schedule_value string")
    after = datetime(2026, 1, 15, 10, 30, tzinfo=timezone.utc)  # pinned clock
    udf = next_execution_udf(after)
    return df.withColumn(
        "next_execution", udf(F.col("schedule_type"), F.col("schedule_value"))
    )


@_q(
    "s2_duration",
    """
    SELECT user_id,
           CAST(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS BIGINT) AS duration_ms,
           (epoch_ms(max(ts)) - epoch_ms(min(ts))) / 1000.0 AS duration_s
    FROM events GROUP BY user_id
    """,
    doc="S2: end-start duration (ms, and seconds via exact int/1000.0 division "
    "— round(x,2) flaps across engines at .xx5 halfway points)",
)
def s2_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.functions.scalar import duration_ms

    ev = _t(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        F.unix_millis(F.max("ts")).alias("__end"),
        F.unix_millis(F.min("ts")).alias("__start"),
    )
    return span.select(
        "user_id",
        duration_ms(F.col("__end"), F.col("__start"), 0)
        .cast("long")
        .alias("duration_ms"),
        ((F.col("__end") - F.col("__start")) / 1000.0).alias("duration_s"),
    )


@_q(
    "cr1_due_set",
    """
    WITH autos AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS id,
             o_orderkey % 3 <> 0 AS enabled,
             CAST(1 + o_orderkey % 120 AS VARCHAR) || 'm' AS schedule_value,
             CAST(o_orderdate AS TIMESTAMP)
               + to_seconds(60 * (1 + o_orderkey % 120)) AS next_execution
      FROM orders
    )
    SELECT id, schedule_value, next_execution FROM autos
    WHERE enabled AND next_execution IS NOT NULL
      AND next_execution <= TIMESTAMP '1995-06-15 01:00:00'
    """,
    doc="CR1: due-set scan over an automations-shaped table "
    "(interval schedules via the T9 grammar; pure pushed-down filter)",
)
def cr1_due_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize an automations-shaped table from orders (deterministic
    interval schedules), compute next_execution with tz-free interval
    arithmetic, and run the CR1 due-set filter. Mirrors
    automation_scheduler.py:93-153's 'fire what has arrived' scan."""
    from datetime import datetime, timezone

    from lakehouse_spark.functions.scalar import interval_to_seconds
    from lakehouse_spark.mutation.automations import due_automations

    orders = _t(spark, sf_dir, "orders")
    autos = orders.select(
        F.col("o_orderkey").cast("string").alias("id"),
        (F.col("o_orderkey") % 3 != 0).alias("enabled"),
        F.concat(
            (F.lit(1) + F.col("o_orderkey") % 120).cast("string"), F.lit("m")
        ).alias("schedule_value"),
        F.col("o_orderdate").cast("timestamp").alias("created_at"),
    ).withColumn(
        "next_execution",
        F.col("created_at")
        + F.make_dt_interval(secs=interval_to_seconds("schedule_value")),
    )
    due = due_automations(
        autos, datetime(1995, 6, 15, 1, 0, tzinfo=timezone.utc)
    )
    return due.select("id", "schedule_value", "next_execution")




@_q(
    "j_asof_attribution",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS click_ts, event_id AS click_event_id,
                      value AS click_value
               FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts,
           c.click_event_id, c.click_ts,
           round(c.click_value, 4) AS click_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts > c.click_ts
    """,
    doc=(
        "As-of join (backward, strict): each purchase attributed to the "
        "latest strictly-prior click by the same user. Spark side is the "
        "merge formulation (union-tag + one per-key window, single shuffle, "
        "no range blow-up); oracle is DuckDB's native ASOF JOIN."
    ),
)
def j_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    out = joins.asof_join(purchases, clicks, "user_id", "ts", "click_ts")
    return out.withColumn("click_value", F.round("click_value", 4))


@_q(
    "j_range_window_count",
    """
    WITH wins AS (
      SELECT event_id AS win_id, ts AS start_ts,
             ts + INTERVAL 24 HOUR AS end_ts
      FROM events WHERE event_type = 'purchase'
      ORDER BY value DESC, event_id LIMIT 20
    )
    SELECT w.win_id, w.start_ts,
           CAST(count(e.event_id) AS BIGINT) AS n_events
    FROM wins w LEFT JOIN events e
      ON e.ts >= w.start_ts AND e.ts < w.end_ts
    GROUP BY 1, 2
    """,
    doc=(
        "Range join without an equi key: traffic count inside the 24h "
        "window after each of the top-20 purchases. Spark side bucketizes "
        "time to day grain (window explodes to <=2 buckets, events map to "
        "exactly one) so the plan is a broadcast hash join + filter, never "
        "a cartesian product; oracle is the naive theta join."
    ),
)
def j_range_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    wins = (
        ev.filter(F.col("event_type") == "purchase")
        .orderBy(F.desc("value"), "event_id")
        .limit(20)
        .select(
            F.col("event_id").alias("win_id"),
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr("INTERVAL 24 HOURS")).alias("end_ts"),
        )
    )
    pairs = joins.range_bucket_join(ev, wins, "ts", "start_ts", "end_ts")
    counts = pairs.groupBy("win_id", "start_ts").agg(
        F.count("*").alias("n_events")
    )
    return (
        wins.select("win_id", "start_ts")
        .join(F.broadcast(counts), ["win_id", "start_ts"], "left")
        .withColumn("n_events", F.coalesce("n_events", F.lit(0)))
    )


@_q(
    "s8_gap_sessions",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM g
    )
    SELECT user_id,
           CAST(session_idx AS BIGINT) AS session_idx,
           min(ts) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT)
             AS duration_us
    FROM s GROUP BY user_id, session_idx
    """,
    doc=(
        "Inactivity-gap sessionization (30 min): lag + running-sum session "
        "index + per-session stats, all on ONE per-user shuffle. The strict "
        "> gap boundary matches F.session_window merge semantics, giving "
        "batch/stream parity pair for gap sessions."
    ),
)
def s8_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators.sessionize import gap_sessions

    ev = _t(spark, sf_dir, "events")
    return gap_sessions(ev, "user_id", "ts", "event_id", gap_s=1800)


@_q(
    "w5_transition_matrix",
    """
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    )
    SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    """,
    doc=(
        "Markov transition matrix over per-user event sequences: lead() on "
        "the per-user time order, then a global (from, to) count. One "
        "shuffle for the window; the 25-cell aggregate combines map-side."
    ),
)
def w5_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return (
        seq.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "j_null_safe_join",
    f"""
    WITH a AS (
      SELECT nullif(user_id % 7, 0) AS k, count(*) AS n_a
      FROM events GROUP BY 1
    ), b AS (
      SELECT nullif(user_id % 7, 0) AS k,
             {_ssum_sql("value")} AS sum_b
      FROM events GROUP BY 1
    )
    SELECT a.k, a.n_a, b.sum_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    doc=(
        "Null-safe equality join (<=> / IS NOT DISTINCT FROM): the NULL "
        "group joins to itself instead of silently dropping — plain = "
        "would lose it. Still a hash-joinable equi condition (Catalyst "
        "plans EqualNullSafe as a join key, no nested loop)."
    ),
)
def j_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.nullif(F.col("user_id") % 7, F.lit(0)).alias("k")
    a = ev.select(k).groupBy("k").agg(F.count("*").alias("n_a"))
    b = (
        ev.select(k, "value")
        .groupBy("k")
        .agg(F.expr(_ssum_sql("value")).alias("sum_b"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"], "n_a", "sum_b"
    )


@_q(
    "j_interval_overlap",
    """
    WITH pw AS (
      SELECT event_id AS p_id, ts AS p_start, ts + INTERVAL 12 HOUR AS p_end
      FROM events WHERE event_type = 'purchase'
      ORDER BY value DESC, event_id LIMIT 20
    ), sw AS (
      SELECT event_id AS s_id, ts AS s_start, ts + INTERVAL 12 HOUR AS s_end
      FROM events WHERE event_type = 'signup'
      ORDER BY value DESC, event_id LIMIT 20
    )
    SELECT p_id, s_id
    FROM pw JOIN sw ON p_start < s_end AND s_start < p_end
    """,
    doc=(
        "Interval-OVERLAP join (intervals x intervals — harder than "
        "containment: BOTH sides explode into covered day buckets, so one "
        "pair can meet in several buckets and needs a dropDuplicates; the "
        "containment case j_range_window_count needs none). Equi join on "
        "the bucket + exact overlap predicate; oracle is the theta join."
    ),
)
def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def windows(kind: str, id_alias: str, pre: str):
        return (
            ev.filter(F.col("event_type") == kind)
            .orderBy(F.desc("value"), "event_id")
            .limit(20)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(f"{pre}_start"),
                (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias(f"{pre}_end"),
            )
        )

    def explode_buckets(df, pre):
        return df.withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.date_trunc("day", F.col(f"{pre}_start")),
                    F.date_trunc("day", F.col(f"{pre}_end")),
                    F.expr("INTERVAL 1 DAY"),
                )
            ),
        )

    pw = explode_buckets(windows("purchase", "p_id", "p"), "p")
    sw = explode_buckets(windows("signup", "s_id", "s"), "s")
    return (
        pw.join(F.broadcast(sw), "__bucket")
        .filter(
            (F.col("p_start") < F.col("s_end"))
            & (F.col("s_start") < F.col("p_end"))
        )
        .select("p_id", "s_id")
        .dropDuplicates(["p_id", "s_id"])
    )


@_q(
    "graph_pagerank",
    None,  # iterative fixed-point: no SQL oracle; exact-value pytest on
    # known graphs (tests/test_graph_pagerank.py) is the correctness gate
    doc=(
        "PageRank over the user-adjacency graph (users adjacent in the "
        "per-day event timeline): iterative DataFrame joins, one shuffle "
        "per round + dangling-mass scalar, localCheckpoint lineage cuts — "
        "the same no-driver-graph discipline as connected components."
    ),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from lakehouse_spark.operators.graph import pagerank

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy(F.to_date("ts")).orderBy("ts", "event_id")
    seq = ev.select(
        F.col("user_id").alias("src"),
        F.lead("user_id").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    ranks = pagerank(seq, iters=10)
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )


@_q(
    "graph_triangles",
    """
    WITH seq AS (
      SELECT user_id AS src,
             lead(user_id) OVER (PARTITION BY CAST(ts AS DATE)
                                 ORDER BY ts, event_id) AS dst
      FROM events
    ), und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM seq WHERE dst IS NOT NULL AND src <> dst
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM und e1
    JOIN und e2 ON e2.a = e1.b
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
    doc=(
        "Triangle counting on the undirected user-adjacency graph: "
        "canonical a<b edge orientation makes each triangle count exactly "
        "once via two equi joins (the a<b<c enumeration). At scale, "
        "orienting by DEGREE instead of id bounds the wedge join by the "
        "arboricity (the standard heavy-hitter fix); id orientation keeps "
        "the oracle simple here."
    ),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy(F.to_date("ts")).orderBy("ts", "event_id")
    seq = ev.select(
        F.col("user_id").alias("src"), F.lead("user_id").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    und = seq.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    wedges = e1.join(e2, F.col("e2.a") == F.col("e1.b"))
    tri = wedges.join(
        e3,
        (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
    )
    return tri.agg(F.count("*").alias("n_triangles"))


@_q(
    "w7_rolling_7day",
    """
    SELECT event_id, user_id,
           CAST(cnt_7d AS BIGINT) AS cnt_7d,
           floor(CAST(sum_7d AS DOUBLE) / cnt_7d + 0.5) / 10000.0 AS avg_7d
    FROM (
      SELECT event_id, user_id, event_type,
             count(*) OVER w AS cnt_7d,
             sum(CAST(round(value * 10000) AS BIGINT)) OVER w AS sum_7d
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
    ) t
    WHERE event_type = 'purchase'
    """,
    doc=(
        "Rolling 7-day behavioral features per user (RANGE frame over "
        "event time, not ROWS — the frame is defined by the clock, so "
        "bursty users and quiet users get the same lookback). One per-user "
        "shuffle; rolling sums in scaled int64 and floor(x+0.5) rounding "
        "so the trailing average is bit-identical across engines. The "
        "feature-engineering shape "
        "behind churn/LTV training tables."
    ),
)
def w7_rolling_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    vi = F.round(F.col("value") * 10000).cast("long")
    rolled = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.count("*").over(w).alias("cnt_7d"),
        F.sum(vi).over(w).alias("sum_7d"),
    )
    # floor(x+0.5) instead of round(): Spark's round() re-reads the double
    # through its shortest decimal repr while DuckDB rounds the raw double —
    # values a hair under a half-boundary round differently (3 of 1981 rows
    # here). floor of the identical double is bit-identical (same trick as
    # emb_quantize_int8).
    avg = F.floor(
        F.col("sum_7d").cast("double") / F.col("cnt_7d") + F.lit(0.5)
    ) / F.lit(10000.0)
    return rolled.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "cnt_7d",
        avg.alias("avg_7d"),
    )


@_q(
    "w8_session_conversion",
    """
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_type,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM g
    ), sess AS (
      SELECT user_id, session_idx,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM s GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS n_converting,
           round(sum(converted) * 1.0 / count(*), 6) AS conversion_rate
    FROM sess
    """,
    doc=(
        "Session-level conversion rate: fraction of gap sessions that "
        "contain a purchase — the sessionize-then-classify composition "
        "(one per-user shuffle shared by the lag window, the running "
        "index, and the per-session max)."
    ),
)
def w8_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = (
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 1_800_000_000)
    )
    idx = F.sum(is_new.cast("int")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sess = (
        ev.withColumn("session_idx", idx)
        .groupBy("user_id", "session_idx")
        .agg(
            F.max((F.col("event_type") == "purchase").cast("int")).alias(
                "converted"
            )
        )
    )
    return sess.agg(
        F.count("*").alias("n_sessions"),
        F.sum("converted").cast("long").alias("n_converting"),
        F.round(F.sum("converted") / F.count("*"), 6).alias("conversion_rate"),
    )


@_q(
    "graph_hop_distance",
    """
    WITH RECURSIVE seq AS (
      SELECT user_id AS src,
             lead(user_id) OVER (PARTITION BY CAST(ts AS DATE)
                                 ORDER BY ts, event_id) AS dst
      FROM events
    ), und AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM seq WHERE dst IS NOT NULL AND src <> dst
        UNION ALL
        SELECT dst, src FROM seq WHERE dst IS NOT NULL AND src <> dst)
    ), walk(node, d) AS (
      SELECT (SELECT min(user_id) FROM events), 0
      UNION
      SELECT e.dst, w.d + 1
      FROM walk w JOIN und e ON e.src = w.node WHERE w.d < 15
    )
    SELECT node AS user_id, CAST(min(d) AS BIGINT) AS dist
    FROM walk GROUP BY node
    """,
    doc=(
        "Single-source shortest hop distance (BFS layers, depth cap 15) "
        "from the minimum user id over the undirected user-adjacency "
        "graph. Spark side reuses plans/closure.descendants: an edge list "
        "under its driver cap is collected once and walked on the driver; "
        "above it each round is one broadcast(frontier) equi join + visited "
        "anti-join with a localCheckpoint lineage cut, so a round costs "
        "O(frontier-adjacent edges) and the loop is O(diameter) rounds — "
        "never an all-pairs plan. The oracle is the equivalent bounded "
        "recursive CTE with min(d) per node."
    ),
)
def graph_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from lakehouse_spark.plans.closure import descendants

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy(F.to_date("ts")).orderBy("ts", "event_id")
    seq = ev.select(
        F.col("user_id").alias("src"), F.lead("user_id").over(w).alias("dst")
    ).filter(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
    und = seq.select("src", "dst").unionByName(
        seq.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    seed_id = ev.agg(F.min("user_id")).collect()[0][0]
    seeds = local_frame(spark, [(seed_id,)], "dst BIGINT")
    reached = descendants(
        und, seeds, parent_col="src", child_col="dst", max_depth=15
    )
    return reached.select(
        F.col("dst").alias("user_id"), F.col("depth").cast("long").alias("dist")
    )

"""The reference engine's aggregation / sort / pagination /
dedup surface (SURVEY.md §2 A/O/D series + rollups and skew handling),
re-expressed Spark-first.

Each entry pairs a Spark DataFrame builder with a DuckDB oracle over the
driver testdata; determinism rules are in the package docstring
(lakehouse_spark/queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_spark.operators import aggregates, dedup, joins, sorts
from lakehouse_spark.queries._core import (
    _davg_sql,
    _dsum_sql,
    _q,
    _savg_sql,
    _ssum_sql,
    _t,
)

@_q(
    "a1_group_count",
    """
    SELECT o_orderpriority AS key, count(*) AS n
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
    doc="A1: filtered group-by count (unread-counts shape)",
)
def a1_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return aggregates.counts_per_key(orders, "o_orderpriority").withColumnRenamed(
        "o_orderpriority", "key"
    )


@_q(
    "a2_running_counters",
    """
    SELECT o_custkey, count(*) AS message_count,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS token_usage
    FROM orders GROUP BY o_custkey
    """,
    doc="A2: per-key count+sum (message_count/token_usage counters as a view)",
)
def a2_running_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    out = aggregates.running_counters(orders, "o_custkey", "o_totalprice")
    return out.select(
        "o_custkey", "message_count", F.round("token_usage", 2).alias("token_usage")
    )


@_q(
    "a3_metrics_argmax",
    """
    WITH agg AS (
      SELECT event_type, count(*) AS total,
             round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value), 4) AS avg_value,
             round(max(value), 4) AS max_value
      FROM events GROUP BY event_type
    ), ranked AS (
      SELECT event_type, event_id, row_number() OVER (
        PARTITION BY event_type ORDER BY value DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT a.event_type, a.total, a.avg_value, a.max_value,
           r.event_id AS argmax_event_id
    FROM agg a JOIN ranked r ON a.event_type = r.event_type AND r.rn = 1
    """,
    doc="A3: count/avg/max/argmax with deterministic struct-max tiebreak",
)
def a3_metrics_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("total"),
        F.expr(_davg_sql("value")).alias("avg_value"),
        F.round(F.max("value"), 4).alias("max_value"),
        F.max(F.struct(F.col("value"), F.col("event_id"))).alias("__mx"),
    ).select(
        "event_type",
        "total",
        "avg_value",
        "max_value",
        F.col("__mx.event_id").alias("argmax_event_id"),
    )


@_q(
    "o1_top_n",
    """
    SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="O1: sort desc + limit → TakeOrderedAndProject",
)
def o1_top_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return sorts.top_n(
        orders, [F.desc("o_totalprice"), F.asc("o_orderkey")], 10
    ).select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


@_q(
    "o2_offset_page",
    """
    SELECT event_id, user_id FROM events
    ORDER BY ts, event_id LIMIT 50 OFFSET 100
    """,
    doc="O2/O3: offset/limit pagination over a total order",
)
def o2_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return sorts.page(ev, [F.asc("ts"), F.asc("event_id")], 100, 50).select(
        "event_id", "user_id"
    )


@_q(
    "o4_tail_per_group",
    """
    SELECT user_id, event_id FROM (
      SELECT user_id, event_id, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t WHERE rn <= 2
    """,
    doc="O4: tail-N per group (last N transcript messages shape)",
)
def o4_tail_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return sorts.tail_n(
        ev, "user_id", [F.desc("ts"), F.desc("event_id")], 2
    ).select("user_id", "event_id")


@_q(
    "d1_exact_dedup",
    """
    SELECT sha256(text) AS content_sha256, count(*) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM documents GROUP BY sha256(text)
    """,
    doc="D1: content dedup by SHA-256 hash-groupBy",
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = dedup.exact(docs, "text", "doc_id")
    return out.select(
        "content_sha256",
        "n_copies",
        F.array_min("doc_ids").alias("first_doc"),
    )


@_q(
    "d2_first_wins",
    """
    SELECT user_id, event_type, event_id FROM (
      SELECT user_id, event_type, event_id, row_number() OVER (
        PARTITION BY user_id, event_type ORDER BY event_id) AS rn
      FROM events) t WHERE rn = 1
    """,
    doc="D2: order-preserving first-wins dedup (explicit encounter order)",
)
def d2_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return dedup.first_wins(ev, ["user_id", "event_type"], "event_id").select(
        "user_id", "event_type", "event_id"
    )


@_q(
    "a5_collect_per_group",
    """
    SELECT event_type,
           array_to_string(list_sort(list(DISTINCT user_id)), ',') AS user_ids,
           count(*) AS n
    FROM events WHERE value > 450 GROUP BY event_type
    """,
    doc="A5: collect_list per group, sorted for determinism (paths-per-hash "
    "shape). Output is a ','-joined string, not ARRAY: the driver's "
    "canonicalizer sorts result columns with pandas, and raw list cells throw "
    "`unhashable type: 'list'` there (round-2 verdict).",
)
def a5_collect_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 450)
    # Sort numerically FIRST (matches DuckDB's list_sort on BIGINT), then cast
    # to string for array_join — joining string-sorted ids would disagree.
    ids = F.transform(
        F.array_sort(F.collect_set("user_id")), lambda x: x.cast("string")
    )
    return ev.groupBy("event_type").agg(
        F.array_join(ids, ",").alias("user_ids"),
        F.count("*").alias("n"),
    )


@_q(
    "a6_duplicate_keys",
    """
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_day, count(*) AS n
    FROM orders GROUP BY 1, 2 HAVING count(*) > 1
    """,
    doc="A6: uniqueness-violation detection (duplicate name per project shape)",
)
def a6_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import aggregates

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("order_day")
    )
    return aggregates.duplicate_keys(orders, "o_custkey", "order_day")


@_q(
    "o5_completion_sort",
    """
    SELECT c_custkey, c_name, c_mktsegment = 'BUILDING' AS is_building
    FROM customer
    ORDER BY is_building DESC, lower(c_name), c_custkey
    LIMIT 25
    """,
    doc="O5: multi-key heterogeneous sort (dirs-first completion shape)",
)
def o5_completion_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").withColumn(
        "is_building", F.col("c_mktsegment") == "BUILDING"
    )
    return sorts.top_n(
        cust,
        [F.desc("is_building"), F.lower(F.col("c_name")), F.asc("c_custkey")],
        25,
    ).select("c_custkey", "c_name", "is_building")


@_q(
    "d3_union_dedup",
    """
    SELECT event_id, event_type FROM events WHERE value > 400
    UNION
    SELECT event_id, event_type FROM events WHERE event_type = 'error' AND value > 300
    """,
    doc="D3: union of overlapping log slices with distinct (UNION semantics)",
)
def d3_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("value") > 400).select("event_id", "event_type")
    b = ev.filter((F.col("event_type") == "error") & (F.col("value") > 300)).select(
        "event_id", "event_type"
    )
    return a.unionByName(b).dropDuplicates()


@_q(
    "skew_salted_agg",
    """
    SELECT l_returnflag AS key,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty,
           count(*) AS n,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Salted two-phase aggregation — must equal the direct group-by exactly",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import skew

    li = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_returnflag", "key")
    out = skew.salted_agg(
        li,
        ["key"],
        {
            "qty": ("l_quantity", "sum"),
            "n": ("l_quantity", "count"),
            "max_price": ("l_extendedprice", "max"),
        },
        n_salts=8,
    )
    return out.select(
        "key",
        F.round("qty", 2).alias("qty"),
        "n",
        F.round("max_price", 2).alias("max_price"),
    )


@_q(
    "agg_distinct_count",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Engine addition: exact distinct counts (expand + two-phase agg)",
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@_q(
    "rollup_time_buckets",
    """
    SELECT time_bucket(INTERVAL 1 DAY, ts) AS bucket_start, event_type,
           count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2
    """,
    headline=True,
    doc="Tumbling time-bucket rollup — same expression serves streaming views",
)
def rollup_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import rollup

    ev = _t(spark, sf_dir, "events")
    return rollup.time_bucket_rollup(
        ev,
        "ts",
        "1 day",
        ["event_type"],
        [F.count("*").alias("n"), F.expr(_dsum_sql("value")).alias("value_sum")],
    ).select("bucket_start", "event_type", "n", "value_sum")


@_q(
    "rollup_hierarchy",
    """
    SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
           count(*) AS n, CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP subtotals: one expand+shuffle instead of per-level re-aggregation",
)
def rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import rollup as ru

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    out = ru.hierarchy_rollup(
        j,
        ["r_name", "n_name"],
        [F.count("*").alias("n"), F.expr(_dsum_sql("c_acctbal")).alias("bal")],
    )
    # Subtotal NULL labels -> 'ALL': value canonicalizers that sort rows
    # with pandas throw on mixed None/str cells (the a5 lesson); the data
    # has no NULL names, so the sentinel is unambiguous.
    return out.select(
        F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
        F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
        "n",
        "bal",
    )


@_q(
    "a4_page_envelope",
    """
    SELECT count(*) AS total, count(*) > 120 AS has_more
    FROM events WHERE event_type = 'click' AND value > 50
    """,
    doc="A4: pagination envelope (total + has_more) in one aggregate",
)
def a4_page_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(
        (F.col("event_type") == "click") & (F.col("value") > 50)
    )
    return ev.agg(
        F.count("*").alias("total"), (F.count("*") > 120).alias("has_more")
    )


@_q(
    "o6_limit_pushdown",
    """
    SELECT event_id, user_id FROM events
    WHERE event_type = 'signup'
    LIMIT 50000
    """,
    doc="O6: limit pushed into the scan (LocalLimit early-exit); limit > "
    "matching rows so the result stays deterministic for hashing",
)
def o6_limit_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "signup")
        .select("event_id", "user_id")
        .limit(50000)
    )


@_q(
    "o7_global_sort",
    """
    SELECT event_id, event_type,
           CAST(row_number() OVER (ORDER BY ts, event_id) AS INTEGER) AS seq
    FROM (
      SELECT * FROM events WHERE event_type = 'signup' AND value > 200
      UNION ALL
      SELECT * FROM events WHERE event_type = 'error' AND value > 400
    )
    """,
    doc="O7: merged log slices under one global timestamp sort (range-"
    "partitioned total sort; the seq column makes the order hash-observable)",
)
def o7_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    merged = joins.union_resort(
        ev.filter((F.col("event_type") == "signup") & (F.col("value") > 200)),
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 400)),
        "ts",
    )
    # Order-observable seq WITHOUT a partition-less window over the data:
    # two-phase global index (distributed zipWithIndex in DataFrame form).
    # Phase 1: per-bucket counts (bucket = date(ts), a prefix of the sort
    # key) → cumulative offsets. The only partition-less window runs over
    # the BUCKET-COUNT table (#days rows), never the data. Phase 2: per-
    # bucket row_number + broadcast offset = the global rank. Survives any
    # scale-up: the data path is one partitioned window + broadcast join.
    bucket = F.to_date("ts")
    per_bucket = merged.groupBy(bucket.alias("__b")).agg(
        F.count("*").alias("__n")
    )
    w_off = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_bucket.select(
        "__b", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = Window.partitionBy(bucket).orderBy("ts", "event_id")
    return (
        merged.withColumn("__rn", F.row_number().over(w_in))
        .join(F.broadcast(offsets), bucket == F.col("__b"))
        .select(
            "event_id",
            "event_type",
            (F.col("__off") + F.col("__rn")).cast("int").alias("seq"),
        )
    )


@_q(
    "d4_visited_anti_join",
    """
    SELECT event_type, count(*) AS n
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM events x
                      WHERE x.user_id = e.user_id AND x.event_type = 'error')
    GROUP BY event_type
    """,
    doc="D4: visited-set anti-join (BFS building block) — events of users "
    "with no error event",
)
def d4_visited_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    visited = ev.filter(F.col("event_type") == "error").select("user_id")
    kept = dedup.visited_anti(ev, visited, "user_id")
    return kept.groupBy("event_type").agg(F.count("*").alias("n"))


@_q(
    "d5_except_intersect",
    """
    WITH hi AS (SELECT DISTINCT user_id FROM events WHERE value > 400),
         err AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT 'except' AS op, count(*) AS n FROM (SELECT * FROM hi EXCEPT SELECT * FROM err)
    UNION ALL
    SELECT 'intersect' AS op, count(*) AS n
    FROM (SELECT * FROM hi INTERSECT SELECT * FROM err)
    """,
    doc="D5: EXCEPT/INTERSECT set ops (free-in-Spark additions per SURVEY §2.7)",
)
def d5_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hi = ev.filter(F.col("value") > 400).select("user_id").distinct()
    err = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    exc = hi.exceptAll(err).agg(
        F.lit("except").alias("op"), F.count("*").alias("n")
    )
    inter = hi.intersect(err).agg(
        F.lit("intersect").alias("op"), F.count("*").alias("n")
    )
    return exc.unionByName(inter)


@_q(
    "agg_rollup_revenue",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    doc="Multi-level aggregation in one pass: ROLLUP(returnflag, linestatus) "
    "with grouping id — Spark's Expand + single shuffle vs re-scanning per "
    "level. NULL subtotal labels coalesced to 'ALL' (canonicalizer-safe; "
    "the data has no NULL flags, so it's unambiguous)",
)
def agg_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_dsum_sql("l_extendedprice * (1 - l_discount)")).alias(
                "revenue"
            ),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "gid",
        )
    )


@_q(
    "agg_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90
    FROM events GROUP BY event_type
    """,
    doc="Exact interpolated percentiles per group (Spark `percentile` == "
    "DuckDB `quantile_cont`, linear interpolation). Exact form needs a "
    "per-group sort buffer — at 100 TB swap for approx_percentile "
    "(t-digest, mergeable partials); the exact form is the oracle anchor",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 6).alias(name)
            for q, name in ((0.25, "p25"), (0.5, "p50"), (0.9, "p90"))
        ]
    )


@_q(
    "rollup_gapfill_daily",
    """
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ), daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT s.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n
    FROM spine s LEFT JOIN daily d USING (day)
    """,
    doc="Time-series gap fill: a generated date spine (sequence over the "
    "observed min/max — two scalar aggregates, no calendar table needed) "
    "left-joined onto sparse daily counts, zero-filling missing days. The "
    "continuity prerequisite for any windowed trend computation",
)
def rollup_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )




@_q(
    "agg_sketches",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
           TRUE AS parts_in_bound,
           TRUE AS supps_in_bound,
           TRUE AS p50_in_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Sketch aggregates — the 100 TB form of agg_distinct_count /"
    " agg_percentiles: approx_count_distinct (HyperLogLog++, default 5%"
    " rsd) and approx_percentile (mergeable quantile sketch, 1e-4"
    " accuracy). Constant memory per group, single pass, mergeable"
    " partials. Oracle-checkable form (round-12 ask #5): the sketch"
    " estimates can't be reproduced cross-engine, so the entry emits the"
    " EXACT per-group answers (DuckDB-checked values) plus booleans"
    " pinning each estimate to its error bound — HLL within 3x the 5%"
    " default rsd, the quantile sketch's p50 inside the exact p45..p55"
    " band — which the oracle asserts as TRUE literals. A bound"
    " violation at any scale factor is a hash mismatch, not a silent"
    " drift.",
)
def agg_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("_ap"),
        F.approx_count_distinct("l_suppkey").alias("_as"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("_p50s"),
        F.countDistinct("l_partkey").cast("long").alias("exact_parts"),
        F.countDistinct("l_suppkey").cast("long").alias("exact_supps"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("_p45"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("_p55"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_supps",
        (
            F.abs(F.col("_ap") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.15
        ).alias("parts_in_bound"),
        (
            F.abs(F.col("_as") - F.col("exact_supps"))
            / F.col("exact_supps")
            <= 0.15
        ).alias("supps_in_bound"),
        (
            (F.col("_p50s") >= F.col("_p45"))
            & (F.col("_p50s") <= F.col("_p55"))
        ).alias("p50_in_band"),
    )


@_q(
    "a9_event_funnel",
    """
    WITH s1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS v_ts
      FROM events
    ), s2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > v_ts THEN ts END)
                  OVER (PARTITION BY user_id) AS c_ts
      FROM s1
    ), s3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > c_ts THEN ts END)
                  OVER (PARTITION BY user_id) AS p_ts
      FROM s2
    )
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT CASE WHEN v_ts IS NOT NULL THEN user_id END)
                AS BIGINT) AS n_viewed,
           CAST(count(DISTINCT CASE WHEN c_ts IS NOT NULL THEN user_id END)
                AS BIGINT) AS n_clicked_after_view,
           CAST(count(DISTINCT CASE WHEN p_ts IS NOT NULL THEN user_id END)
                AS BIGINT) AS n_purchased_after_click
    FROM s3
    """,
    doc=(
        "Ordered funnel analysis (view -> click -> purchase): three chained "
        "min-over-user windows on ONE shuffle (same partition spec, no sort "
        "needed for unbounded frames), then distinct-user stage counts. The "
        "strictly-after chaining makes each stage conditional on the prior."
    ),
)
def a9_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    win = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "v_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(win)
    )
    s2 = s1.withColumn(
        "c_ts",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")),
                F.col("ts"),
            )
        ).over(win),
    )
    s3 = s2.withColumn(
        "p_ts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")),
                F.col("ts"),
            )
        ).over(win),
    )
    return s3.agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.when(F.col("v_ts").isNotNull(), F.col("user_id"))).alias(
            "n_viewed"
        ),
        F.countDistinct(F.when(F.col("c_ts").isNotNull(), F.col("user_id"))).alias(
            "n_clicked_after_view"
        ),
        F.countDistinct(F.when(F.col("p_ts").isNotNull(), F.col("user_id"))).alias(
            "n_purchased_after_click"
        ),
    )


@_q(
    "a8_cohort_retention",
    """
    WITH su AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events WHERE event_type = 'signup' GROUP BY user_id
    ), act AS (
      SELECT e.user_id, s.cohort_week,
             CAST(date_diff('day', s.cohort_week, date_trunc('week', e.ts)) / 7
                  AS BIGINT) AS offset_weeks
      FROM events e JOIN su s USING (user_id)
    )
    SELECT cohort_week, offset_weeks,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
    FROM act WHERE offset_weeks >= 0
    GROUP BY 1, 2
    """,
    doc=(
        "Cohort retention: users bucketed by signup week, distinct-active "
        "counts per (cohort, week offset). Signup dim aggregates first then "
        "joins the fact — at scale the join shuffles on user_id once and "
        "the distinct-count reuses AQE-sized partitions."
    ),
)
def a8_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        # cast to date: day-grain truncations are dates in DuckDB, and the
        # cohort key has no sub-day information by construction
        .agg(F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week"))
    )
    joined = ev.join(signups, "user_id")
    offset = (
        F.datediff(F.date_trunc("week", F.col("ts")).cast("date"), F.col("cohort_week")) / 7
    ).cast("long")
    return (
        joined.withColumn("offset_weeks", offset)
        .filter(F.col("offset_weeks") >= 0)
        .groupBy("cohort_week", "offset_weeks")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@_q(
    "agg_pivot_status",
    f"""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           {_ssum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")}
             AS open_revenue
    FROM orders GROUP BY o_orderpriority
    """,
    doc=(
        "Pivot (long->wide): order counts per priority x status via "
        "df.pivot with EXPLICIT value list — without it Spark runs an extra "
        "distinct scan AND the output schema becomes data-dependent, which "
        "breaks at 100 TB. Compiles to one conditional aggregation pass."
    ),
)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = _t(spark, sf_dir, "orders")
    wide = (
        od.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            # count(lit(1)): count(*) star-expansion is rejected inside Pivot
            F.count(F.lit(1)).alias("n"),
            F.expr(
                _ssum_sql(
                    "CASE WHEN o_orderstatus = 'O' THEN o_totalprice"
                    " ELSE 0.0D END"
                )
            ).alias("rev"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce("F_n", F.lit(0)).alias("n_f"),
        F.coalesce("O_n", F.lit(0)).alias("n_o"),
        F.coalesce("P_n", F.lit(0)).alias("n_p"),
        F.coalesce("O_rev", F.lit(0.0)).alias("open_revenue"),
    )


@_q(
    "agg_cube_revenue",
    f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           {_ssum_sql("l_extendedprice")} AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc=(
        "CUBE aggregation (all 2^2 grouping sets in one pass): completes "
        "the ROLLUP family (rollup_hierarchy). Spark expands grouping sets "
        "map-side, so the fact table still shuffles once."
    ),
)
def agg_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_ssum_sql("l_extendedprice")).alias("revenue"),
            F.count("*").alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n",
        )
    )


@_q(
    "w4_running_share",
    f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS ship_day,
             {_ssum_sql("l_extendedprice")} AS revenue
      FROM lineitem GROUP BY 1
    )
    SELECT ship_day, revenue,
           round(sum(revenue) OVER (ORDER BY ship_day
                                    ROWS UNBOUNDED PRECEDING)
                 / sum(revenue) OVER (), 6) AS cum_share
    FROM daily
    """,
    doc=(
        "Cumulative revenue share by ship day. The unpartitioned running "
        "window is safe ONLY because it runs over the day-grain AGGREGATE "
        "(one row per day — thousands of rows at any fact scale), never "
        "over the fact table; the fact shuffles once for the daily rollup."
    ),
)
def w4_running_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.date_trunc("day", "l_shipdate").cast("date").alias("ship_day")
    ).agg(F.expr(_ssum_sql("l_extendedprice")).alias("revenue"))
    w_run = Window.orderBy("ship_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    return daily.withColumn(
        "cum_share",
        F.round(F.sum("revenue").over(w_run) / F.sum("revenue").over(w_all), 6),
    )


@_q(
    "agg_outlier_zscore",
    """
    WITH g AS (
      SELECT event_type, value,
             CAST(round(value * 100) AS BIGINT) AS vc,
             sum(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type) AS s1,
             sum(CAST(round(value * 100) AS BIGINT)
                 * CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY event_type) AS s2,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), z AS (
      SELECT event_type, n,
             CAST(s1 AS DOUBLE) / n AS mean_c,
             sqrt((CAST(s2 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                  / (n - 1)) AS std_c,
             vc
      FROM g
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           round(max(mean_c) / 100, 4) AS mean_value,
           round(max(std_c) / 100, 4) AS std_value,
           CAST(sum(CASE WHEN abs(vc - mean_c) > 3 * std_c THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM z GROUP BY event_type
    """,
    doc=(
        "Z-score outlier detection per event type: mean/std from exact "
        "scaled-int64 sums (order-independent — stddev_samp over doubles "
        "is schedule-dependent in the last ulp), flags |z| > 3. One "
        "per-type shuffle; the unbounded window and the final aggregate "
        "reuse the same partitioning."
    ),
)
def agg_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    vc = F.round(F.col("value") * 100).cast("long")
    win = Window.partitionBy("event_type")
    g = ev.select(
        "event_type",
        vc.alias("vc"),
        F.sum(vc).over(win).alias("s1"),
        F.sum(vc * vc).over(win).alias("s2"),
        F.count("*").over(win).alias("n"),
    )
    z = g.select(
        "event_type",
        "n",
        "vc",
        (F.col("s1").cast("double") / F.col("n")).alias("mean_c"),
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("std_c"),
    )
    return z.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.round(F.max("mean_c") / 100, 4).alias("mean_value"),
        F.round(F.max("std_c") / 100, 4).alias("std_value"),
        F.sum(
            (
                F.abs(F.col("vc") - F.col("mean_c")) > 3 * F.col("std_c")
            ).cast("long")
        ).alias("n_outliers"),
    )


@_q(
    "rollup_interpolate",
    """
    WITH bounds AS (
      SELECT CAST(min(ts) AS DATE) AS lo, CAST(max(ts) AS DATE) AS hi
      FROM events
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ), daily AS (
      SELECT CAST(ts AS DATE) AS day,
             round(sum(CAST(round(value * 10000) AS BIGINT))
                   / (10000.0 * count(value)), 4) AS v
      FROM events WHERE event_type = 'error' AND value > 520
      GROUP BY 1
    ), j AS (
      SELECT s.day, d.v,
             last_value(d.v IGNORE NULLS) OVER w_prev AS prev_v,
             last_value(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
               OVER w_prev AS prev_day,
             first_value(d.v IGNORE NULLS) OVER w_next AS next_v,
             first_value(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
               OVER w_next AS next_day
      FROM spine s LEFT JOIN daily d USING (day)
      WINDOW w_prev AS (ORDER BY s.day ROWS UNBOUNDED PRECEDING),
             w_next AS (ORDER BY s.day
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT day, v AS v_raw,
           round(CASE
             WHEN v IS NOT NULL THEN v
             WHEN prev_v IS NULL THEN next_v
             WHEN next_v IS NULL THEN prev_v
             ELSE prev_v + (next_v - prev_v)
                  * date_diff('day', prev_day, day)
                  / date_diff('day', prev_day, next_day)
           END, 4) AS v_interp
    FROM j
    """,
    doc=(
        "Time-series linear interpolation over a gap-filled spine: sparse "
        "daily averages, missing days filled by interpolating between the "
        "nearest observed neighbors (edges back/forward-fill). Two "
        "IGNORE-NULLS windows over the DAY-GRAIN aggregate (tiny at any "
        "fact scale — see w4_running_share for the same argument)."
    ),
)
def rollup_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 520))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.expr(_savg_sql("value")).alias("v"))
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    s = spine.join(daily, "day", "left")
    w_prev = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_next = Window.orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    j = s.select(
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("prev_day"),
        F.first("v", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("next_day"),
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(
            F.col("prev_v")
            + (F.col("next_v") - F.col("prev_v"))
            * F.datediff(F.col("day"), F.col("prev_day"))
            / F.datediff(F.col("next_day"), F.col("prev_day"))
        )
    )
    return j.select(
        "day",
        F.col("v").alias("v_raw"),
        F.round(interp, 4).alias("v_interp"),
    )


@_q(
    "rollup_hopping_windows",
    """
    WITH bounds AS (
      -- back up by (width - slide): epoch-aligned windows STARTING before
      -- the first hour still cover the earliest events; surplus starts are
      -- dropped by the inner join
      SELECT date_trunc('hour', min(ts)) - INTERVAL 45 MINUTE AS lo,
             max(ts) AS hi
      FROM events
    ), starts AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 15 MINUTE)) AS w_start
      FROM bounds
    )
    SELECT s.w_start, CAST(count(e.event_id) AS BIGINT) AS n,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM starts s
    JOIN events e
      ON e.ts >= s.w_start AND e.ts < s.w_start + INTERVAL 1 HOUR
    GROUP BY s.w_start
    """,
    doc=(
        "Hopping (sliding) window aggregation: 1h windows every 15min via "
        "F.window(ts, '1 hour', '15 minutes') — Spark expands each event "
        "into its <=4 covering windows map-side (no spine join, no range "
        "join), then one shuffle on the window key. The oracle is the "
        "explicit spine x range join DuckDB needs for the same result. "
        "Windows with zero events don't exist on either side (inner "
        "semantics)."
    ),
)
def rollup_hopping_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(F.col("w.start").alias("w_start"), "n", "n_users")
    )


@_q(
    "a10_user_growth",
    """
    WITH firsts AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS first_day FROM events
      GROUP BY user_id
    ), daily AS (
      SELECT first_day AS day, count(*) AS new_users FROM firsts GROUP BY 1
    )
    SELECT day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS total_users
    FROM daily
    """,
    doc=(
        "User growth curve: exact cumulative distinct users per day WITHOUT "
        "a cumulative-distinct window (quadratic state) — each user reduces "
        "to a first-seen day (one shuffle), then a day-grain running sum "
        "(tiny, same argument as w4_running_share)."
    ),
)
def a10_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    daily = firsts.groupBy("day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.withColumn("total_users", F.sum("new_users").over(w))


@_q(
    "o10_ntile_quartiles",
    """
    SELECT event_type, quartile,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM (
      SELECT event_type, value,
             CAST(ntile(4) OVER (PARTITION BY event_type
                                 ORDER BY value, event_id) AS BIGINT)
               AS quartile
      FROM events)
    GROUP BY event_type, quartile
    """,
    doc=(
        "NTILE quartile bucketing per group + per-bucket stats. The window "
        "tie-breaks on event_id so bucket boundaries are a total order — "
        "without it, equal values straddle buckets nondeterministically "
        "and the hash flaps."
    ),
)
def o10_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .groupBy("event_type", "quartile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )

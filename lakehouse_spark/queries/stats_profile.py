"""Statistical-profile entries: distribution shapes (mode, medians,
moments, Gini/HHI/entropy, MAD, correlation, histograms), grouping-set
pivots, and keyset pagination. Same catalog contract as every other
domain module — identical aliases both sides, integer grids for anything
a double could wobble on, explicit tie-breaks under every window.
Split from aggregates_sorts.py to keep registry files under the
1,500-LoC maintainability line; entry NAMES are unchanged (the driver's
stable contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_spark.operators import sorts
from lakehouse_spark.queries._core import _q, _ssum_sql, _t


# Cent-rounding stays INTEGER until one final division (shared by both
# engines on the same exact long -> identical double): these grouping-set
# totals reach ~1e14 grid units, where engine round(double, 2)
# implementations diverge in the last ulp (caught by the round-10 sf0.1
# sweep — hash-only mismatch, rows/schema green). (s+50) - (s+50) % 100
# is HALF-UP to the cent on the 1e-4 grid, exact in int64.
_GS_BODY = """
    SELECT returnflag, linestatus,
           CAST((s + 50) - (s + 50) %% 100 AS DOUBLE) / CAST(10000 AS DOUBLE)
             AS revenue
    FROM (
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) AS s
      FROM %s
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    ) t
"""


@_q(
    "agg_grouping_sets",
    _GS_BODY % "lineitem",
    doc=(
        "Explicit GROUPING SETS (two independent rollups in ONE scan + one "
        "shuffle — vs running two group-bys and unioning, which scans "
        "twice). DataFrame API has only cube/rollup, so this entry goes "
        "through spark.sql over a temp view — the SQL front-end is part of "
        "the engine surface."
    ),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(_GS_BODY % "__gs_lineitem")


@_q(
    "agg_histogram",
    """
    SELECT CAST(CASE WHEN value < 0 THEN 0
                     WHEN value >= 600 THEN 13
                     ELSE floor(value / 50) + 1 END AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(value), 4) AS lo,
           round(max(value), 4) AS hi
    FROM events GROUP BY 1
    """,
    doc=(
        "Equi-width histogram via width_bucket (12 bins over [0, 600)): "
        "one map-side-combined aggregation — the profiling primitive "
        "behind range-boundary sampling (see layout.rank_bucket)."
    ),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "bucket",
            F.width_bucket(
                F.col("value"), F.lit(0.0), F.lit(600.0), F.lit(12)
            ).cast("long"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


@_q(
    "agg_correlation",
    """
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sx,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
             sum(CAST(round(l_quantity * 100) AS BIGINT)
                 * CAST(round(l_quantity * 100) AS BIGINT)) AS sxx,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy,
             sum(CAST(round(l_quantity * 100) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS corr_qty_price
    FROM s
    """,
    doc=(
        "Pearson correlation per group from exact scaled-int64 moment sums "
        "(F.corr's double accumulation is combine-order-dependent in the "
        "last ulps; int sums make the result bit-identical across engines "
        "and runs). Overflow bound: cents-scale products stay < 9.2e18 "
        "past sf10; widen to DECIMAL moments beyond that."
    ),
)
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    corr = (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / (
        F.sqrt(nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * F.sqrt(nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return s.select(
        "l_returnflag", "n", F.round(corr, 6).alias("corr_qty_price")
    )


@_q(
    "agg_unpivot_stack",
    """
    SELECT o_orderpriority, status, CAST(n AS BIGINT) AS n FROM (
      SELECT o_orderpriority, 'F' AS status,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n
      FROM orders GROUP BY 1
      UNION ALL
      SELECT o_orderpriority, 'O',
             sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
      FROM orders GROUP BY 1
      UNION ALL
      SELECT o_orderpriority, 'P',
             sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
      FROM orders GROUP BY 1)
    """,
    doc=(
        "UNPIVOT (wide->long) via stack() over the pivoted counts: the "
        "inverse of agg_pivot_status, one generator row per (priority, "
        "status) — Spark evaluates stack map-side with no join or "
        "shuffle beyond the original aggregation."
    ),
)
def agg_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = _t(spark, sf_dir, "orders")
    wide = (
        od.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return wide.select(
        "o_orderpriority",
        F.expr("stack(3, 'F', F, 'O', O, 'P', P) AS (status, n)"),
    )


@_q(
    "w6_wow_change",
    f"""
    WITH weekly AS (
      SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
             {_ssum_sql("l_extendedprice")} AS revenue
      FROM lineitem GROUP BY 1
    )
    SELECT week, revenue,
           round(revenue - lag(revenue) OVER (ORDER BY week), 2) AS delta,
           round((revenue - lag(revenue) OVER (ORDER BY week))
                 / lag(revenue) OVER (ORDER BY week) * 100, 4) AS pct_change
    FROM weekly
    """,
    doc=(
        "Period-over-period change: weekly revenue with lag() delta and "
        "percent change. The unpartitioned lag runs over the week-grain "
        "aggregate only (see w4_running_share); first week emits nulls."
    ),
)
def w6_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        F.date_trunc("week", "l_shipdate").cast("date").alias("week")
    ).agg(F.expr(_ssum_sql("l_extendedprice")).alias("revenue"))
    w = Window.orderBy("week")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("delta"),
        F.round((F.col("revenue") - prev) / prev * 100, 4).alias("pct_change"),
    )


@_q(
    "s9_bounce_rate",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM g
    ), sess AS (
      SELECT user_id, session_idx, count(*) AS n_events
      FROM s GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS bounce_rate
    FROM sess
    """,
    doc=(
        "Bounce rate over gap sessions: fraction of single-event sessions "
        "— composes the s8 sessionization with a global ratio (one per-user "
        "shuffle + a scalar aggregate)."
    ),
)
def s9_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators.sessionize import gap_sessions

    ev = _t(spark, sf_dir, "events")
    sess = gap_sessions(ev, "user_id", "ts", "event_id", gap_s=1800)
    return sess.agg(
        F.count("*").alias("n_sessions"),
        F.sum((F.col("n_events") == 1).cast("long")).alias("n_bounces"),
        F.round(
            F.sum((F.col("n_events") == 1).cast("int"))
            / F.count("*"),
            6,
        ).alias("bounce_rate"),
    )


@_q(
    "agg_mode",
    """
    SELECT event_type, user_id AS mode_user, CAST(cnt AS BIGINT) AS n FROM (
      SELECT event_type, user_id, cnt, row_number() OVER (
        PARTITION BY event_type ORDER BY cnt DESC, user_id) AS rn
      FROM (SELECT event_type, user_id, count(*) AS cnt
            FROM events GROUP BY 1, 2))
    WHERE rn = 1
    """,
    doc=(
        "Mode (most frequent value) per group with a deterministic "
        "smallest-id tie-break: count sub-aggregate + one partitioned "
        "top-1 window. Spark's native mode() has no tie-break contract, "
        "so the hash would flap — the explicit form pins it."
    ),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), "user_id")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("user_id").alias("mode_user"), F.col("cnt").alias("n"))
    )


@_q(
    "agg_weighted_median",
    """
    WITH ranked AS (
      SELECT l_returnflag,
             round(l_extendedprice, 2) AS price,
             CAST(round(l_quantity * 100) AS BIGINT) AS wq,
             sum(CAST(round(l_quantity * 100) AS BIGINT)) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cum_w,
             sum(CAST(round(l_quantity * 100) AS BIGINT)) OVER (
               PARTITION BY l_returnflag) AS tot_w
      FROM lineitem
    )
    SELECT l_returnflag, min(price) AS weighted_median_price
    FROM ranked
    WHERE cum_w * 2 >= tot_w
    GROUP BY l_returnflag
    """,
    doc=(
        "Weighted median (price weighted by quantity) per group: one "
        "partitioned sort window for cumulative weight, the median is the "
        "first row whose cumulative weight crosses half the total. Weights "
        "as scaled int64 so the crossing point can't move with combine "
        "order; total order includes the key columns so equal prices rank "
        "deterministically."
    ),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    wq = F.round(F.col("l_quantity") * 100).cast("long")
    w_cum = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_tot = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        F.round("l_extendedprice", 2).alias("price"),
        F.sum(wq).over(w_cum).alias("cum_w"),
        F.sum(wq).over(w_tot).alias("tot_w"),
    )
    return (
        ranked.filter(F.col("cum_w") * 2 >= F.col("tot_w"))
        .groupBy("l_returnflag")
        .agg(F.min("price").alias("weighted_median_price"))
    )


@_q(
    "agg_skew_kurtosis",
    """
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             sum(CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS s1,
             sum(CAST(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS s2,
             sum(CAST(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))
                 * CAST(round(value * 100) AS BIGINT)) AS s3,
             sum((CAST(CAST(round(value * 100) AS BIGINT)
                       * CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))
                  * CAST(round(value * 100) AS BIGINT))
                 * CAST(round(value * 100) AS BIGINT)) AS s4
      FROM events GROUP BY event_type
    ), m AS (
      SELECT event_type, n,
             CAST(s1 AS DOUBLE) / n AS m1,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM s
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round((r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1)
                 / pow(r2 - m1 * m1, 1.5), 6) AS skewness,
           round((r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1)
                 / pow(r2 - m1 * m1, 2) - 3, 6) AS excess_kurtosis
    FROM m
    """,
    doc=(
        "Skewness + excess kurtosis per group from exact DECIMAL(38) "
        "central-moment sums (the int64 trick of agg_correlation overflows "
        "at the 4th power — centi-units^4 x row count passes 9.2e18 — so "
        "the higher moments widen to decimal, still exact and "
        "order-independent; only the final normalization runs in double)."
    ),
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("long")
    xd = x.cast("decimal(38,0)")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(xd).alias("s1"),
        F.sum((x * x).cast("decimal(38,0)")).alias("s2"),
        F.sum((x * x).cast("decimal(38,0)") * x).alias("s3"),
        F.sum(((x * x).cast("decimal(38,0)") * x) * x).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    var = r2 - m1 * m1
    skew = (r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5)
    kurt = (
        r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1
    ) / F.pow(var, 2) - 3
    return s.select(
        "event_type",
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


@_q(
    "agg_hhi_concentration",
    f"""
    WITH seg AS (
      SELECT o_orderpriority,
             {_ssum_sql("o_totalprice")} AS revenue
      FROM orders GROUP BY o_orderpriority
    ), tot AS (
      SELECT sum(revenue) AS t FROM seg
    )
    SELECT CAST(count(*) AS BIGINT) AS n_segments,
           round(sum(pow(revenue / t, 2)), 6) AS hhi
    FROM seg CROSS JOIN tot
    """,
    doc=(
        "Herfindahl-Hirschman concentration of revenue across segments: "
        "sum of squared shares over the tiny segment aggregate (1/n = "
        "perfect competition, 1 = monopoly). Exact int-grid segment sums; "
        "the share division and squares run over identical doubles on "
        "both engines."
    ),
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    od = _t(spark, sf_dir, "orders")
    seg = od.groupBy("o_orderpriority").agg(
        F.expr(_ssum_sql("o_totalprice")).alias("revenue")
    )
    t = F.sum("revenue").over(Window.partitionBy())
    return (
        seg.withColumn("share", F.col("revenue") / t)
        .agg(
            F.count("*").alias("n_segments"),
            F.round(F.sum(F.pow("share", 2)), 6).alias("hhi"),
        )
    )


@_q(
    "meta_table_counts",
    """
    SELECT 'region' AS tbl, CAST(count(*) AS BIGINT) AS n FROM region
    UNION ALL SELECT 'nation', count(*) FROM nation
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    UNION ALL SELECT 'part', count(*) FROM part
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'events', count(*) FROM events
    UNION ALL SELECT 'documents', count(*) FROM documents
    UNION ALL SELECT 'embeddings', count(*) FROM embeddings
    """,
    doc=(
        "Catalog health check: row counts of every registered table in one "
        "union (each arm is a metadata-only parquet count). The first "
        "query to run after pointing the engine at a new dataset root."
    ),
)
def meta_table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.oracle import TABLES

    parts = None
    for t in TABLES:
        one = _t(spark, sf_dir, t).agg(F.count("*").alias("n")).select(
            F.lit(t).alias("tbl"), "n"
        )
        parts = one if parts is None else parts.unionByName(one)
    return parts


@_q(
    "agg_gini",
    f"""
    WITH cust AS (
      SELECT o_custkey,
             {_ssum_sql("o_totalprice")} AS rev
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev, o_custkey) AS i,
             count(*) OVER () AS n,
             sum(rev) OVER () AS tot
      FROM cust
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           round(sum((2.0 * i - n - 1) * rev) / (max(n) * max(tot)), 6)
             AS gini
    FROM ranked
    """,
    doc=(
        "Gini coefficient of revenue across customers (0 = equal, 1 = one "
        "customer is everything) via the sorted-rank identity "
        "sum((2i-n-1)x_i)/(n*sum x) — one window over the per-customer "
        "AGGREGATE (thousands of rows at any fact scale), no O(n^2) "
        "pairwise differences. Total rank order ties broken by key."
    ),
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    od = _t(spark, sf_dir, "orders")
    cust = od.groupBy("o_custkey").agg(F.expr(_ssum_sql("o_totalprice")).alias("rev"))
    w = Window.orderBy("rev", "o_custkey")
    wa = Window.partitionBy()
    ranked = cust.select(
        "rev",
        F.row_number().over(w).alias("i"),
        F.count("*").over(wa).alias("n"),
        F.sum("rev").over(wa).alias("tot"),
    )
    return ranked.agg(
        F.max("n").alias("n_customers"),
        F.round(
            F.sum((2.0 * F.col("i") - F.col("n") - 1) * F.col("rev"))
            / (F.max("n") * F.max("tot")),
            6,
        ).alias("gini"),
    )


@_q(
    "a11_user_type_entropy",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY 1, 2
    ), t AS (
      SELECT user_id, event_type, cnt,
             sum(cnt) OVER (PARTITION BY user_id) AS tot
      FROM c
    )
    SELECT user_id,
           CAST(sum(cnt) AS BIGINT) AS n_events,
           round(-sum(CAST(round((cnt * 1.0 / tot) * log2(cnt * 1.0 / tot)
                                 * 100000000) AS BIGINT))
                 / 100000000.0, 4) AS type_entropy_bits
    FROM t GROUP BY user_id
    """,
    doc=(
        "Behavioral diversity: Shannon entropy of each user's event-type "
        "distribution (0 = one-note user, log2(5) = uniform across all "
        "types). Count sub-aggregate + per-user window + int-grid entropy "
        "sum (order-independent) — one shuffle, reused by window and "
        "final aggregate."
    ),
)
def a11_user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    tot = F.sum("cnt").over(Window.partitionBy("user_id"))
    p = F.col("cnt") * F.lit(1.0) / F.col("tot")
    term = F.round(p * F.log2(p) * 100_000_000).cast("long")
    return (
        c.withColumn("tot", tot)
        .withColumn("term", term)
        .groupBy("user_id")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.round(-F.sum("term") / F.lit(100_000_000.0), 4).alias(
                "type_entropy_bits"
            ),
        )
    )


@_q(
    "o11_keyset_page",
    """
    SELECT event_id, user_id, ts FROM events
    WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
       OR (ts = TIMESTAMP '2024-01-15 00:00:00' AND event_id > 5000)
    ORDER BY ts, event_id LIMIT 50
    """,
    doc=(
        "Keyset (cursor) pagination over the composite (ts, event_id) "
        "order: the strictly-past-the-cursor predicate pushes to the scan "
        "(min/max pruning skips whole files) and each page costs O(page) "
        "at ANY depth — a deep OFFSET page re-sorts and discards offset "
        "rows every call, making page 10k cost 10k x page 1."
    ),
)
def o11_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return sorts.keyset_page(
        ev, ["ts", "event_id"], (datetime(2024, 1, 15), 5000), 50
    )


@_q(
    "agg_mad_robust",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(max(m.m), 6) AS median_value,
           round(quantile_cont(abs(e.value - m.m), 0.5), 6) AS mad
    FROM events e JOIN med m USING (event_type)
    GROUP BY e.event_type
    """,
    doc=(
        "Median absolute deviation — the robust spread statistic outliers "
        "can't poison (unlike stddev): per-group median, deviations, "
        "median of deviations. Two passes over one per-type shuffle; the "
        "group medians broadcast back as a 5-row dim. Same exact-"
        "interpolation mapping as agg_percentiles."
    ),
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("m")
    )
    joined = ev.join(F.broadcast(med), "event_type")
    return joined.groupBy("event_type").agg(
        F.round(F.max("m"), 6).alias("median_value"),
        F.round(
            F.expr("percentile(abs(value - m), 0.5)"), 6
        ).alias("mad"),
    )


@_q(
    "agg_regression",
    """
    WITH pts AS (
      SELECT event_type,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             CAST(round(value * 100) AS BIGINT) AS y
      FROM events WHERE value IS NOT NULL
    ), s AS (
      SELECT event_type, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pts GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
                 6) AS slope_cents_per_day,
           round((CAST(sy AS DOUBLE) - CAST(sx AS DOUBLE)
                    * ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
                 / n, 4) AS intercept_cents,
           round(pow(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2)
                 / ((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS r2
    FROM s
    """,
    doc=(
        "Per-group OLS trend (slope / intercept / R^2 of event value over "
        "time) from exact scaled-int64 moment sums — the same "
        "closed-form-moments trick as agg_correlation, because the native "
        "regr_slope/corr aggregates accumulate doubles in "
        "combine-order-dependent fashion and can flip last ulps between "
        "runs and engines. x is days since a pinned epoch (small ints), y "
        "is value cents; ONE map-side-partial shuffle to |event_type| "
        "groups, arithmetic on the driver-sized aggregate."
    ),
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
    y = F.round(F.col("value") * 100).cast("long")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x.cast("long") * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round((sy - sx * slope) / nd, 4).alias("intercept_cents"),
        F.round(
            F.pow(nd * sxy - sx * sy, F.lit(2))
            / ((nd * sxx - sx * sx) * (nd * syy - sy * sy)),
            6,
        ).alias("r2"),
    )

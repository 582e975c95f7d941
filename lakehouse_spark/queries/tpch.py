"""TPC-H-shaped analytical queries (flagship pricing summary + the
q-series adaptations). One entry per join/subquery/aggregation SHAPE the
engine must plan well at scale.

Each entry pairs a Spark DataFrame builder with a DuckDB oracle over the
driver testdata; determinism rules are in the package docstring
(lakehouse_spark/queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_spark.operators import sorts
from lakehouse_spark.operators.skew import spread
from lakehouse_spark.queries._core import (
    _davg_sql,
    _dsum_sql,
    _q,
    _savg_sql,
    _ssum_sql,
    _t,
)

@_q(
    "flagship_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_ssum_sql("l_quantity")} AS sum_qty,
           {_ssum_sql("l_extendedprice")} AS sum_base_price,
           {_ssum_sql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           round(sum(CAST(round(l_quantity * 10000) AS BIGINT)) / (10000.0 * count(l_quantity)), 4) AS avg_qty,
           round(sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) / (10000.0 * count(l_extendedprice)), 4) AS avg_price,
           round(sum(CAST(round(l_discount * 10000) AS BIGINT)) / (10000.0 * count(l_discount)), 4) AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
    doc="TPC-H Q1 shape: scan + filter + 8-way agg; map-side partial agg",
)
def flagship_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Aggregates are composed as SQL strings (one expr() parse each): the
    # Column-DSL form of this 8-agg list cost ~1000 py4j round-trips per
    # build — ~0.5-1 ms each on a virtualized driver host (see
    # functions.scalar.hash64_spark_sql). Identical expression trees.
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter("l_shipdate <= cast('2001-09-02' as timestamp)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"{_ssum_sql('l_quantity')} as sum_qty"),
            F.expr(f"{_ssum_sql('l_extendedprice')} as sum_base_price"),
            F.expr(
                f"{_ssum_sql('l_extendedprice * (1 - l_discount)')}"
                " as sum_disc_price"
            ),
            F.expr(f"{_savg_sql('l_quantity')} as avg_qty"),
            F.expr(f"{_savg_sql('l_extendedprice')} as avg_price"),
            F.expr(f"{_savg_sql('l_discount')} as avg_disc"),
            F.expr("count(*) as count_order"),
        )
    )


@_q(
    "tpch_q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    headline=True,
    doc="TPC-H Q3 shape: 3-way join + agg + total-order top-k",
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter("c_mktsegment = 'BUILDING'")
    orders = _t(spark, sf_dir, "orders").filter(
        "o_orderdate < cast('1998-03-15' as timestamp)"
    )
    li = spread(_t(spark, sf_dir, "lineitem"), "l_orderkey").filter(
        "l_shipdate > cast('1998-03-15' as timestamp)"
    )
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.expr(
            f"{_dsum_sql('l_extendedprice * (1 - l_discount)')} as revenue"
        )
    )
    return sorts.top_n(
        agg, [F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey")], 10
    ).select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")


@_q(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    headline=True,
    doc="TPC-H Q5 shape: 6-way join, broadcast dims, one wide agg",
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Region restriction is applied to the DIMENSIONS before any fact join
    # (round 12, guide §2.3/§3.2): nation⋈region collapses to a 5-row
    # asian-nations relation, supplier pre-joins it (carrying n_name, so
    # the fact path has no nation/region joins left), and customer is
    # semi-filtered to asian nations — 4/5 of customers leave the
    # orders⋈customer join before it happens instead of after the
    # supplier join. Inner joins + a commuting predicate: identical rows.
    asian_nations = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(_t(spark, sf_dir, "region").filter("r_name = 'ASIA'")),
            F.expr("n_regionkey = r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(asian_nations), F.expr("s_nationkey = n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(asian_nations.select("n_nationkey")),
        F.expr("c_nationkey = n_nationkey"),
        "left_semi",
    )
    orders = _t(spark, sf_dir, "orders").filter(
        "o_orderdate >= cast('1996-01-01' as timestamp)"
        " AND o_orderdate < cast('1998-01-01' as timestamp)"
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)), 2) as revenue"
            )
        )
    )


@_q(
    "tpch_q14_promo_revenue",
    """
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(18,4))) AS DOUBLE), 4) AS promo_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1999-01-01'
      AND l_shipdate <  TIMESTAMP '2000-01-01'
    """,
    headline=True,
    doc="TPC-H Q14 shape: fact→dim join (broadcast part) + conditional agg. "
    "Both sums are DECIMAL (order-independent); the ratio is one double "
    "division — identical op sequence on both engines",
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        "l_shipdate >= cast('1999-01-01' as timestamp)"
        " AND l_shipdate < cast('2000-01-01' as timestamp)"
    )
    part = _t(spark, sf_dir, "part")
    rev = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"
    zero = "CAST(0 AS DECIMAL(18,4))"
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.expr(
                "round(100.0D"
                f" * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {rev}"
                f" ELSE {zero} END) AS DOUBLE)"
                f" / CAST(sum({rev}) AS DOUBLE), 4) as promo_revenue"
            )
        )
    )


@_q(
    "tpch_q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
    headline=True,
    doc="TPC-H Q18 shape: high-cardinality agg → semi-join back into the "
    "fact → re-agg → total-order top-k; the semi side reuses the lineitem "
    "scan and AQE sizes its join strategy at runtime",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE per-order aggregation serves both the >250 filter and the output
    # total_qty (round 12): o_orderkey is unique in orders, so the original
    # post-join re-aggregation grouped exactly one order per group and its
    # total equaled the per-order sum already computed for the HAVING
    # filter. The fact table is now scanned and aggregated ONCE (was: full
    # scan + agg for the filter, second full scan semi-joined and
    # re-aggregated after the orders/customer joins) — identical rows out.
    # The per-order partial aggregation is the heavy map side of this
    # query; an under-partitioned scan would run it on one core (spread is
    # a no-op on healthy multi-split layouts). Measured 0.66x at sf0.1.
    li = spread(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(
            F.expr("sum(l_quantity) as __q"),  # exact filter semantics
            # rounded output form
            F.expr(f"{_dsum_sql('l_quantity')} as total_qty"),
        )
        .filter("__q > 250")
    )
    j = per_order.join(
        orders, F.col("l_orderkey") == orders.o_orderkey
    ).join(cust, orders.o_custkey == cust.c_custkey)
    agg = j.select(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
        "total_qty",
    )
    return sorts.top_n(
        agg, [F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey")], 100
    ).selectExpr(
        "c_name", "c_custkey", "o_orderkey", "o_orderdate",
        "round(o_totalprice, 2) as o_totalprice", "total_qty",
    )


@_q(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: left OUTER join keeping order-less customers + "
    "double aggregation (count per key, then distribution of counts)",
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@_q(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(CAST(sum(l_extendedprice * l_discount) AS DOUBLE), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure scan-side conjunctive filter + one global agg "
    "(every predicate pushed to parquet; no join, no wide shuffle)",
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2
            ).alias("revenue")
        )
    )


@_q(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: 3-way fact join + broadcast nation, grouped "
    "revenue, top-20 on a total order (TakeOrderedAndProject)",
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_q(
    "tpch_q4_priority_exists",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4 shape (adapted: shipped-after-order as the EXISTS "
    "predicate since the trimmed schema has no commit/receipt dates): "
    "left-semi join + grouped count",
)
def tpch_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    matched = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders")
    )


@_q(
    "tpch_q2_min_cost_part",
    """
    SELECT p_type, p_partkey, p_retailprice
    FROM part p
    WHERE p_retailprice = (
      SELECT min(p_retailprice) FROM part p2 WHERE p2.p_type = p.p_type
    )
    """,
    doc="TPC-H Q2 shape: correlated min subquery per group (cheapest part "
    "per type) — executed as a single partitioned window min, no self-join",
)
def tpch_q2_min_cost_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_type")
    return (
        part.withColumn("__min", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("__min"))
        .select("p_type", "p_partkey", "p_retailprice")
    )


@_q(
    "tpch_q12_priority_buckets",
    """
    SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_cnt,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
    doc="TPC-H Q12 shape: CASE-bucketed counts over a fact-fact join "
    "(urgent vs other order priorities per ship month)",
)
def tpch_q12_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_cnt"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_cnt"),
        )
    )


@_q(
    "tpch_q16_supplier_cnt",
    """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size IN (1, 5, 9, 13)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
    doc="TPC-H Q16 shape: NOT-IN exclusion (anti join on the tiny negative-"
    "balance supplier set) + count distinct per (brand, size)",
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 5, 9, 13)
    ).select("p_partkey", "p_brand", "p_size")
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(bad_supp), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@_q(
    "tpch_q19_or_predicates",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#15' AND p_size BETWEEN 20 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity "
    "bands over a broadcast part join — exercises OR-tree predicate "
    "handling and partial pushdown",
)
def tpch_q19_or_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#11")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(10, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(20, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(band).agg(
        F.expr(_dsum_sql("l_extendedprice * (1 - l_discount)")).alias("revenue")
    )


@_q(
    "tpch_q7_nation_trade",
    """
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           -- sum in DECIMAL: double summation order differs between engines
           -- and flips cents after round(2) on ~90-line groups; decimal
           -- addition is exact and order-independent
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier ON l_suppkey  = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name <> sn.n_name
    GROUP BY 1, 2
    """,
    doc="TPC-H Q7 shape: cross-nation trade volume — the same dimension "
    "(nation) joined twice through different FK paths (customer side vs "
    "supplier side), both broadcast; only the fact-fact join shuffles",
)
def tpch_q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = nation.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("cust_nation"),
    )
    sn = nation.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("supp_nation"),
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), "c_nationkey")
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), "s_nationkey")
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            # decimal sum: exact, order-independent (see oracle comment)
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@_q(
    "tpch_q17_small_qty_revenue",
    """
    SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))) / 7.0, 2)
                AS DOUBLE) AS avg_yearly
    FROM (
      SELECT l_extendedprice, l_quantity,
             sum(CAST(l_quantity AS DECIMAL(18,4)))
               OVER (PARTITION BY l_partkey) AS qty_sum,
             count(*) OVER (PARTITION BY l_partkey) AS cnt
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#11')
    WHERE l_quantity * 5 * cnt < CAST(qty_sum AS DOUBLE)
    """,
    doc="TPC-H Q17 shape: correlated per-part average threshold (qty < "
    "0.2*avg), executed as ONE partitioned window over the brand-filtered "
    "slice instead of a per-row subquery. The threshold is compared in the "
    "exact form qty*5*cnt < decimal_sum: a double 0.2*avg(double) is "
    "order-dependent AND the 0.2 literal types differently across engines "
    "(DuckDB decimal vs Spark double), which can flip borderline rows",
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#11"
    ).select("p_partkey")
    # Join FIRST, then window: the correlated stats only need the brand's
    # parts, so window state is bounded by the filtered slice (the set is
    # identical — l_partkey determines p_brand). Threshold in exact form:
    # qty*5*cnt (double ops on the 2-decimal grid, exact) vs the decimal
    # window sum cast to double (deterministic) — see the oracle note.
    sliced = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    w = Window.partitionBy("l_partkey")
    return (
        sliced.withColumn(
            "__qty_sum",
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).over(w),
        )
        .withColumn("__cnt", F.count("*").over(w))
        .filter(
            F.col("l_quantity") * 5 * F.col("__cnt")
            < F.col("__qty_sum").cast("double")
        )
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")) / 7.0)
            .cast("double")
            .alias("__raw")
        )
        .select(F.round("__raw", 2).alias("avg_yearly"))
    )




@_q(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: max over a derived aggregate (the revenue 'view') "
    "— argmax supplier(s) by quarterly revenue. The scalar max runs as its "
    "own tiny job and becomes a LITERAL equality filter on the aggregated "
    "frame (the q4/t8 uncorrelated-scalar pattern), so no 1-row join "
    "appears in the plan; supplier lookup broadcasts. Revenue is a rounded "
    "decimal sum (order-independent), making the equality cross-engine-safe",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.expr(_dsum_sql("l_extendedprice * (1 - l_discount)")).alias(
            "total_revenue"
        )
    )
    # Derived aggregates are cheap to cache and read twice (scalar max +
    # equality filter); at scale this is one shuffle, reused.
    revenue = revenue.localCheckpoint(eager=True)
    best = revenue.agg(F.max("total_revenue").alias("m")).collect()[0]["m"]
    supplier = _t(spark, sf_dir, "supplier")
    return (
        revenue.filter(F.col("total_revenue") == F.lit(best))
        .join(
            F.broadcast(supplier),
            F.col("supplier_no") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_q(
    "tpch_q21_waiting_supplier",
    """
    WITH base AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F')
    SELECT s_name, numwait FROM (
      SELECT s_name, count(*) AS numwait
      FROM base l1 JOIN supplier ON s_suppkey = l1.l_suppkey
      WHERE l1.late
        AND EXISTS (SELECT 1 FROM base l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM base l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.late)
      GROUP BY s_name) v
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    doc="TPC-H Q21 shape (adapted: 'late' = shipped >60 days after order "
    "date, the trimmed schema's stand-in for receipt>commit): EXISTS + "
    "NOT-EXISTS chain over the same fact — left-semi then left-anti hash "
    "joins on l_orderkey with a supplier-inequality residual; supplier "
    "name lookup broadcasts; top-10 on a total order",
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders_f = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    base = li.join(
        orders_f, li.l_orderkey == orders_f.o_orderkey
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        ).alias("late"),
    )
    # The EXISTS/NOT-EXISTS subqueries scan the same joined fact: compute it
    # once (one lineitem⋈orders shuffle) and reuse for all three roles.
    base = base.localCheckpoint(eager=True)
    l1 = base.filter(F.col("late"))
    l2 = base.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_suppkey").alias("__sk")
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_suppkey").alias("__sk")
    )
    cand = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("__ok"))
        & (F.col("l_suppkey") != F.col("__sk")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("__ok"))
        & (F.col("l_suppkey") != F.col("__sk")),
        "left_anti",
    )
    supplier = _t(spark, sf_dir, "supplier")
    out = (
        cand.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
    return out.orderBy(F.desc("numwait"), F.asc("s_name")).limit(10)


@_q(
    "tpch_q22_global_sales_opportunity",
    """
    SELECT cntrycode, count(*) AS numcust,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS totacctbal
    FROM (
      SELECT right(c_name, 2) AS cntrycode, c_acctbal
      FROM customer
      WHERE right(c_name, 2) IN ('13','31','23','29','30','18','17')
        AND c_acctbal > (
          SELECT round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                       / count(c_acctbal), 4)
          FROM customer
          WHERE c_acctbal > 0.0
            AND right(c_name, 2) IN ('13','31','23','29','30','18','17'))
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01')
    ) v
    GROUP BY cntrycode
    """,
    doc="TPC-H Q22 shape (adapted: country code = last 2 digits of c_name, "
    "the trimmed schema's stand-in for the phone prefix): substring "
    "bucketing + scalar-avg threshold (uncorrelated scalar → literal "
    "predicate, rounded identically on both engines so membership can't "
    "flip) + NOT EXISTS recent orders (the original's dormancy window) "
    "as a left-anti join on o_custkey",
)
def tpch_q22_global_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    codes = ["13", "31", "23", "29", "30", "18", "17"]
    cust = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.expr("right(c_name, 2)")
    )
    in_codes = cust.filter(F.col("cntrycode").isin(codes))
    threshold = (
        in_codes.filter(F.col("c_acctbal") > 0.0)
        .agg(F.expr(_davg_sql("c_acctbal")).alias("a"))
        .collect()[0]["a"]
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        in_codes.filter(F.col("c_acctbal") > F.lit(threshold))
        .join(orders, "c_custkey", "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.expr(_dsum_sql("c_acctbal")).alias("totacctbal"),
        )
    )


@_q(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation_rk = 1 THEN volume
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 4) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS volume,
             n2.n_regionkey AS nation_rk
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2,
           region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                            AND TIMESTAMP '1997-12-31') v
    GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (adapted: supplier-region share instead of "
    "supplier-nation — same CASE-volume ratio): 5-table star + two nation "
    "roles + region, year bucketing, conditional decimal sums, one double "
    "division. All five dims broadcast; lineitem never shuffles before the "
    "2-row aggregate",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_regionkey").alias("__n1_rk"),
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_regionkey").alias("nation_rk"),
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    zero = F.lit(0).cast("decimal(18,4)")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), "c_nationkey")
        .join(
            F.broadcast(region),
            F.col("__n1_rk") == F.col("r_regionkey"),
            "left_semi",
        )
        .join(F.broadcast(n2), "s_nationkey")
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.col("nation_rk") == 1, vol.cast("decimal(18,4)")
                    ).otherwise(zero)
                ).cast("double")
                / F.sum(vol.cast("decimal(18,4)")).cast("double"),
                4,
            ).alias("mkt_share")
        )
    )


@_q(
    "tpch_q9_product_profit",
    """
    SELECT nation, o_year,
           CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice * (1 - l_discount)
                  - 0.8 * p_retailprice * l_quantity AS DECIMAL(18,4)) AS amount
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_type = 'STANDARD') v
    GROUP BY nation, o_year
    """,
    doc="TPC-H Q9 shape (adapted: cost = 0.8 x p_retailprice x l_quantity "
    "since the trimmed schema has no partsupp): profit expression over a "
    "4-way star, grouped by supplier nation x order year. Identical "
    "double-op sequence inside the decimal cast keeps cross-engine parity",
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.8 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.round(F.sum(amount), 2).cast("double").alias("sum_profit")
        )
    )


@_q(
    "tpch_q11_important_stock",
    """
    WITH v AS (
      SELECT l_partkey,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                  AS DOUBLE) AS value
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE s_nationkey IN
            (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      GROUP BY l_partkey)
    SELECT l_partkey, value FROM v
    WHERE value > (SELECT round(0.001 * sum(value), 4) FROM v)
    """,
    doc="TPC-H Q11 shape (adapted: shipped value per part for one region's "
    "suppliers, partsupp being absent): grouped sum + HAVING against a "
    "FRACTION of the global total — the scalar runs over the cached "
    "aggregate and becomes a literal threshold (q15 pattern)",
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nations = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    good_supp = supp.join(
        F.broadcast(nations),
        supp.s_nationkey == nations.n_nationkey,
        "left_semi",
    ).select("s_suppkey")
    v = (
        li.join(F.broadcast(good_supp), li.l_suppkey == good_supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.expr(_dsum_sql("l_extendedprice")).alias("value"))
        .localCheckpoint(eager=True)
    )
    threshold = v.agg(
        F.round(0.001 * F.sum("value"), 4).alias("t")
    ).collect()[0]["t"]
    return v.filter(F.col("value") > F.lit(threshold))


@_q(
    "tpch_q20_part_promotion",
    """
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 50)
      AND s_nationkey IN
          (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
    """,
    doc="TPC-H Q20 shape (adapted: 'heavily shipped small parts' replaces "
    "the partsupp availability predicate): nested IN chain — part semi "
    "join inside a grouped HAVING inside a supplier semi join, plus a "
    "nation semi join. Every IN becomes a (broadcast) left-semi hash join",
)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    small_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey")
    )
    heavy = (
        li.join(
            F.broadcast(small_parts),
            li.l_partkey == small_parts.p_partkey,
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 50)
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    nations = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 1)
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(heavy), "s_suppkey", "left_semi")
        .join(
            F.broadcast(nations),
            supp.s_nationkey == nations.n_nationkey,
            "left_semi",
        )
        .select("s_name", "s_acctbal")
    )

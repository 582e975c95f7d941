"""The reference engine's scalar-function and filter surface
(SURVEY.md §2 F/T/SC series), re-expressed Spark-first.

Each entry pairs a Spark DataFrame builder with a DuckDB oracle over the
driver testdata; determinism rules are in the package docstring
(lakehouse_spark/queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_spark.operators import filters
from lakehouse_spark.queries._core import (
    _dsum_sql,
    _q,
    _ssum_sql,
    _t,
)

@_q(
    "f1_and_equality_filter",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O' AND o_orderpriority = '1-URGENT'
    """,
    doc="F1: AND-combined equality filters → single pushed-down scan filter",
)
def f1_and_equality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    out = filters.and_equals(
        orders, o_orderstatus="O", o_orderpriority="1-URGENT"
    )
    return out.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


@_q(
    "f2_time_range",
    """
    SELECT l_returnflag, count(*) AS n, CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-06-01'
    GROUP BY l_returnflag
    """,
    doc="F2: range predicate on time, pushed to parquet row-group stats",
)
def f2_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = filters.since(
        _t(spark, sf_dir, "lineitem"),
        "l_shipdate",
        F.lit("1999-06-01").cast("timestamp"),
    )
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.expr(_dsum_sql("l_quantity")).alias("qty")
    )


@_q(
    "f4_prefix_filter",
    """
    SELECT event_id, event_type, round(value, 2) AS value
    FROM events
    WHERE event_type LIKE 'cl%' AND value > 100
    """,
    doc="F4: prefix + range filter on the event log",
)
def f4_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = filters.level_and_prefix(ev, "event_type", None, "event_type", "cl").filter(
        F.col("value") > 100
    )
    return out.select("event_id", "event_type", F.round("value", 2).alias("value"))


@_q(
    "f5_ci_prefix",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE lower(c_name) LIKE 'customer#00000001%'
    """,
    doc="F5: case-insensitive prefix filter (completion-style)",
)
def f5_ci_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return filters.ci_prefix(cust, "c_name", "Customer#00000001").select(
        "c_custkey", "c_name"
    )


@_q(
    "t1_mention_tokens",
    r"""
    SELECT tok, count(*) AS n FROM (
      SELECT unnest(regexp_extract_all(lower(text), '\b(s[a-z]+)\b', 1)) AS tok
      FROM documents)
    GROUP BY tok
    """,
    doc="T1 machinery: regexp_extract_all + explode + count (mention-style)",
)
def t1_mention_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(r"\b(s[a-z]+)\b"), 1)
        ).alias("tok")
    )
    return toks.groupBy("tok").agg(F.count("*").alias("n"))


@_q(
    "t4_sha256",
    """
    SELECT doc_id, sha256(text) AS digest FROM documents
    """,
    doc="T4: SHA-256 content identity",
)
def t4_sha256(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.sha2("text", 256).alias("digest"))


@_q(
    "t7_month_format",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n
    FROM orders GROUP BY month
    """,
    doc="T7: timestamp parse/format",
)
def t7_month_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(F.count("*").alias("n"))


@_q(
    "t8_date_arithmetic",
    """
    SELECT o_orderstatus, count(*) AS n
    FROM orders
    WHERE o_orderdate >= (SELECT max(o_orderdate) - INTERVAL 90 DAY FROM orders)
    GROUP BY o_orderstatus
    """,
    doc="T8: date arithmetic against a scalar aggregate",
)
def t8_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Uncorrelated scalar subquery, executed the way Catalyst itself would:
    # the 1-value aggregate runs as its own (stats-fast) job, and the result
    # becomes a LITERAL predicate on the main scan — so the date filter
    # reaches PushedFilters instead of sitting above a 1-row
    # BroadcastNestedLoopJoin (the previous shape, flagged by the catalog
    # plan lint).
    orders = _t(spark, sf_dir, "orders")
    cutoff = orders.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 90 DAY")).alias("c")
    ).collect()[0]["c"]
    return (
        orders.filter(F.col("o_orderdate") >= F.lit(cutoff))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "t17_json_extract",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="T17/T14: JSON string field extraction + aggregation",
)
def t17_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("k_sum"),
        F.count("*").alias("n"),
    )


@_q(
    "t9_interval_parse",
    """
    SELECT v, coalesce(CAST(CASE regexp_extract(v, '^(\\d+)([smhd])$', 2)
             WHEN 's' THEN 1 WHEN 'm' THEN 60 WHEN 'h' THEN 3600
             WHEN 'd' THEN 86400 END
           * try_cast(regexp_extract(v, '^(\\d+)([smhd])$', 1) AS BIGINT)
           AS BIGINT), -1) AS seconds
    FROM (VALUES ('30s'), ('5m'), ('2h'), ('1d'), ('90m'), ('oops'), ('7w'))
         AS t(v)
    """,
    doc="T9: interval-string grammar parse; malformed -> -1 in the catalog "
    "output (the operator itself yields NULL; the sentinel keeps the "
    "bigint column canonicalizer-sortable)",
)
def t9_interval_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.functions.scalar import interval_to_seconds

    df = spark.createDataFrame(
        [("30s",), ("5m",), ("2h",), ("1d",), ("90m",), ("oops",), ("7w",)],
        "v string",
    )
    return df.select(
        "v", F.coalesce(interval_to_seconds("v"), F.lit(-1)).alias("seconds")
    )


@_q(
    "f3_boolean_flag",
    """
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE (o_orderpriority = '1-URGENT') = true AND o_orderstatus = 'F'
    """,
    doc="F3: boolean-flag filter (unread/enabled shape)",
)
def f3_boolean_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").withColumn(
        "__urgent", F.col("o_orderpriority") == "1-URGENT"
    )
    return filters.flag(
        orders.filter(F.col("o_orderstatus") == "F"), "__urgent"
    ).select("o_orderkey", "o_orderpriority")


@_q(
    "sc1_jsonl_roundtrip",
    """
    SELECT event_type, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id
    FROM events GROUP BY event_type
    """,
    doc="SC1+SC4: JSONL append sink + malformed-skipping line scan roundtrip",
)
def sc1_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SC1/SC4 ← trace_aggregator.py:82-97 + manager.py:282-283 semantics
    (read, not copied): rows appended as JSONL lines must scan back exactly,
    with blank/malformed lines skipped. The aggregate over the roundtripped
    log must equal the oracle's aggregate over the original table."""
    import os
    import re

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from lakehouse_spark.sources import jsonl as jsonl_src

    tag = re.sub(r"[^0-9A-Za-z.]+", "_", sf_dir.rstrip("/"))
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", ".scratch", f"sc1_{tag}"
    )
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    ev.write.mode("overwrite").json(out)  # SC4: one JSON object per line
    with open(os.path.join(out, "part-zz-malformed.json"), "w") as f:
        f.write('{"event_id": nope}\n\n   \n{"truncated": \n')
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("user_id", LongType()),
        ]
    )
    back = jsonl_src.read_jsonl(spark, out, schema)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("event_id").alias("sum_id")
    )


@_q(
    "f7_status_filter",
    """
    SELECT event_id, user_id, round(value, 4) AS value
    FROM events
    WHERE event_type = 'error'
    ORDER BY ts DESC, event_id DESC
    LIMIT 50
    """,
    doc="F7: status-equality filter, newest-first page (failed-executions shape)",
)
def f7_status_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "error")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(50)
        .select("event_id", "user_id", F.round("value", 4).alias("value"))
    )


@_q(
    "f8_projection",
    """
    SELECT o_orderkey, o_orderdate
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    ORDER BY o_orderdate, o_orderkey
    LIMIT 100
    """,
    doc="F8: covering projection (2 of 9 cols) — pruning must reach the scan",
)
def f8_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderdate")
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .orderBy("o_orderdate", "o_orderkey")
        .limit(100)
    )


@_q(
    "t2_mention_normalize",
    r"""
    SELECT regexp_replace(regexp_replace(raw, '^@', ''), '^"(.*)"$', '\1')
             AS target,
           count(*) AS n
    FROM (
      SELECT CASE doc_id % 3
               WHEN 0 THEN '@' || source
               WHEN 1 THEN '@"' || source || ' notes"'
               ELSE source END AS raw
      FROM documents)
    GROUP BY 1
    """,
    doc="T2: mention normalization (strip @, strip surrounding quotes)",
)
def t2_mention_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.functions.scalar import normalize_mention

    docs = _t(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("@"), F.col("source")))
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit('@"'), F.col("source"), F.lit(' notes"')),
        )
        .otherwise(F.col("source"))
        .alias("raw")
    )
    return (
        docs.select(normalize_mention("raw").alias("target"))
        .groupBy("target")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "t12_id_generation",
    None,  # uuid() is nondeterministic by design — excluded from value hashing
    doc="T12: uuid-derived short ids + W3C-trace-style child span ids",
)
def t12_id_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.functions.scalar import child_span_id, short_id

    base = (
        _t(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(100)
        .select(F.col("o_orderkey").cast("string").alias("parent"))
    )
    return base.select(
        "parent",
        short_id().alias("session_id"),
        child_span_id(F.col("parent"), short_id(), F.lit("researcher")).alias(
            "child_id"
        ),
    )


@_q(
    "t5_case_functions",
    """
    SELECT upper(event_type) AS typ, count(*) AS n
    FROM events
    WHERE lower(event_type) LIKE 'c%'
    GROUP BY 1
    """,
    doc="T5: startswith/lower/upper normalization (level/prefix shape)",
)
def t5_case_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.lower(F.col("event_type")).startswith("c"))
        .groupBy(F.upper(F.col("event_type")).alias("typ"))
        .agg(F.count("*").alias("n"))
    )


@_q(
    "t14_nested_access",
    """
    SELECT event_type AS tool_name, value > 250 AS success,
           count(*) AS n, CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS output_sum
    FROM events GROUP BY 1, 2
    """,
    doc="T14: nested struct construction + dotted-path navigation "
    "(data.result.output shape); oracle computes the flat equivalent",
)
def t14_nested_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    nested = ev.select(
        F.struct(
            F.col("event_type").alias("tool_name"),
            F.struct(
                (F.col("value") > 250).alias("success"),
                F.col("value").alias("output"),
            ).alias("result"),
        ).alias("data")
    )
    return nested.groupBy(
        F.col("data.tool_name").alias("tool_name"),
        F.col("data.result.success").alias("success"),
    ).agg(
        F.count("*").alias("n"),
        F.expr(_dsum_sql("data.result.output")).alias("output_sum"),
    )


@_q(
    "f6_hidden_exclusion",
    """
    SELECT name, count(*) AS n FROM (
      SELECT CASE WHEN doc_id % 5 = 0 THEN '.' || source ELSE source END AS name
      FROM documents)
    WHERE name NOT LIKE '.%'
    GROUP BY name
    """,
    doc="F6: hidden-name ('.'-prefix) exclusion (directory-listing shape)",
)
def f6_hidden_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.lit("."), F.col("source"))
        )
        .otherwise(F.col("source"))
        .alias("name")
    )
    return filters.not_hidden(docs, "name").groupBy("name").agg(
        F.count("*").alias("n")
    )


@_q(
    "t3_quote_decision",
    """
    SELECT mention, count(*) AS n FROM (
      SELECT CASE WHEN regexp_matches(p, '^[a-zA-Z0-9_\\-/\\.:]+$')
                  THEN '@' || p ELSE '@"' || p || '"' END AS mention
      FROM (SELECT CASE doc_id % 4
                     WHEN 0 THEN source || ' draft'
                     WHEN 1 THEN 'a b/' || source
                     WHEN 2 THEN 'lib/' || source
                     ELSE source END AS p
            FROM documents))
    GROUP BY mention
    """,
    doc="T3: mention quoting decision — quote iff path leaves the simple "
    "character class",
)
def t3_quote_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.functions.scalar import quote_mention

    docs = _t(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.col("source"), F.lit(" draft")))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("a b/"), F.col("source")))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("lib/"), F.col("source")))
        .otherwise(F.col("source"))
        .alias("p")
    )
    return (
        docs.select(quote_mention("p").alias("mention"))
        .groupBy("mention")
        .agg(F.count("*").alias("n"))
    )


@_q(
    "t13_path_functions",
    """
    SELECT DISTINCT
           'share/profiles/' || lang || '/' || source || '.yaml' AS path,
           'share/profiles/' || lang AS parent,
           source || '.yaml' AS leaf,
           source AS stem,
           CAST(4 AS INTEGER) AS depth
    FROM documents
    """,
    doc="T13: path functions — parent dir, last segment, suffix strip, depth",
)
def t13_path_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.functions.scalar import (
        path_depth,
        path_last_segment,
        path_parent,
        strip_suffix,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("share/profiles/"), F.col("lang"), F.lit("/"), F.col("source"),
            F.lit(".yaml"),
        ).alias("path")
    )
    return docs.select(
        "path",
        path_parent("path").alias("parent"),
        path_last_segment("path").alias("leaf"),
        strip_suffix(path_last_segment("path"), ".yaml").alias("stem"),
        path_depth("path").cast("int").alias("depth"),
    ).distinct()


@_q(
    "f10_set_membership",
    """
    SELECT event_id, event_type FROM events
    WHERE event_type IN ('signup', 'error')
    """,
    doc="F10: set-membership filter (streamed-hook allowlist shape)",
)
def f10_set_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return filters.in_set(ev, "event_type", ("signup", "error")).select(
        "event_id", "event_type"
    )


@_q(
    "f11_safe_paths",
    """
    WITH paths AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 11 = 0 THEN '/' || source || '/' || CAST(doc_id AS VARCHAR)
               WHEN doc_id % 7 = 0 THEN '../' || source || '/' || CAST(doc_id AS VARCHAR)
               WHEN doc_id % 5 = 0 THEN source || '/../' || CAST(doc_id AS VARCHAR)
               WHEN doc_id % 3 = 0 THEN source || '\\' || CAST(doc_id AS VARCHAR)
               ELSE source || '/' || lang || '/' || CAST(doc_id AS VARCHAR) || '.txt'
             END AS path
      FROM documents
    )
    SELECT doc_id, path FROM paths
    WHERE length(path) > 0 AND path NOT LIKE '/%'
      AND NOT contains(path, '\\')
      AND NOT list_contains(string_split(path, '/'), '..')
    """,
    doc="F11: path-safety predicate over a synthesized path table "
    "(absolute / dot-dot / backslash escapes rejected in one scan)",
)
def f11_safe_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    paths = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.concat(F.lit("/"), "source", F.lit("/"), did))
        .when(F.col("doc_id") % 7 == 0, F.concat(F.lit("../"), "source", F.lit("/"), did))
        .when(F.col("doc_id") % 5 == 0, F.concat("source", F.lit("/../"), did))
        .when(F.col("doc_id") % 3 == 0, F.concat("source", F.lit("\\"), did))
        .otherwise(
            F.concat("source", F.lit("/"), "lang", F.lit("/"), did, F.lit(".txt"))
        )
        .alias("path"),
    )
    return filters.only_safe_paths(paths, "path")


@_q(
    "t11_clock_conversion",
    """
    SELECT h24,
           CASE WHEN h24 % 12 = 0 THEN 12 ELSE h24 % 12 END AS hour12,
           CASE WHEN h24 < 12 THEN 'AM' ELSE 'PM' END AS meridiem,
           h24 AS h24_roundtrip, count(*) AS n
    FROM (SELECT CAST(hour(ts) AS INTEGER) AS h24 FROM events)
    GROUP BY 1, 2, 3, 4
    """,
    doc="T11: 24h -> (12h, AM/PM) -> 24h round-trip over event hours "
    "(midnight/noon edge cases exercised by the group-by)",
)
def t11_clock_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.functions.scalar import hour_12_to_24, hour_24_to_12

    ev = _t(spark, sf_dir, "events").select(
        F.hour("ts").cast("int").alias("h24")
    )
    conv = ev.withColumn("c", hour_24_to_12(F.col("h24")))
    return (
        conv.select(
            "h24",
            F.col("c.hour12").alias("hour12"),
            F.col("c.meridiem").alias("meridiem"),
            hour_12_to_24(F.col("c.hour12"), F.col("c.meridiem")).alias(
                "h24_roundtrip"
            ),
        )
        .groupBy("h24", "hour12", "meridiem", "h24_roundtrip")
        .agg(F.count("*").alias("n"))
    )




@_q(
    "t19_variant_semistructured",
    """
    SELECT event_type,
           CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS max_k,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    WHERE CAST(props ->> 'k' AS BIGINT) > 50
    GROUP BY event_type
    """,
    doc=(
        "Semi-structured access through Spark 4's VARIANT type: parse_json "
        "once, variant_get with a typed path — the open-schema column "
        "pattern (Snowflake VARIANT / Databricks VARIANT) where the JSON "
        "shape is not known at table-definition time. The typed extraction "
        "and the filter both run JVM-side; the oracle uses DuckDB's JSON "
        "operators over the same column."
    ),
)
def t19_variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "long")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("n"),
        )
    )


@_q(
    "t20_sql_named_params",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_type = 'purchase' AND value >= 100.0
    GROUP BY user_id HAVING count(*) >= 3
    """,
    doc=(
        "Parameterized SQL through spark.sql(query, args=...) — named "
        "parameter binding (Spark 3.4+), the injection-safe front-end for "
        "templated queries; parameters reach Catalyst as literals so "
        "pushdown and constant folding still apply."
    ),
)
def t20_sql_named_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__param_events")
    return spark.sql(
        """
        SELECT user_id, count(*) AS n
        FROM __param_events
        WHERE event_type = :etype AND value >= :vmin
        GROUP BY user_id HAVING count(*) >= :minn
        """,
        args={"etype": "purchase", "vmin": 100.0, "minn": 3},
    )


@_q(
    "t21_try_arithmetic",
    f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_ratio,
           {_ssum_sql("coalesce(ratio, 0)")} AS sum_ratio,
           CAST(sum(CASE WHEN parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unparseable
    FROM (
      SELECT event_type,
             value / nullif(CAST(event_id % 7 AS DOUBLE), 0) AS ratio,
             try_cast(CASE WHEN event_id % 13 = 0 THEN 'x' || user_id
                           ELSE CAST(user_id AS VARCHAR) END AS BIGINT)
               AS parsed
      FROM events)
    GROUP BY event_type
    """,
    doc=(
        "Error-safe arithmetic surface: try_divide (divide-by-zero -> NULL "
        "instead of an ANSI exception killing the job at row 3 billion) "
        "and try_cast for dirty strings. NULL ratios are counted, the "
        "clean ones sum on the int grid; DuckDB mirrors with "
        "nullif-division and try_cast."
    ),
)
def t21_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    ratio = F.try_divide(
        F.col("value"), (F.col("event_id") % 7).cast("double")
    )
    dirty = F.when(
        F.col("event_id") % 13 == 0,
        F.concat(F.lit("x"), F.col("user_id").cast("string")),
    ).otherwise(F.col("user_id").cast("string"))
    parsed = dirty.try_cast("long")
    return (
        ev.select("event_type", ratio.alias("ratio"), parsed.alias("parsed"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("ratio").isNull().cast("long")).alias("n_null_ratio"),
            F.expr(_ssum_sql("coalesce(ratio, 0.0D)")).alias("sum_ratio"),
            F.sum(F.col("parsed").isNull().cast("long")).alias("n_unparseable"),
        )
    )

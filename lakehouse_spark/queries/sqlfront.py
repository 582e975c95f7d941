"""SQL-by-name front-end entries (round 8).

The reference addresses every entity by NAME over its API
(``amplifierd/routers/sessions.py:753-1406`` — "sessions", "events", never a
path); :mod:`lakehouse_spark.catalog` gives the Spark engine the same
name-addressed surface. These entries run ONE ANSI-SQL string through
``LakeCatalog.sql`` over registered views — and, because the string is
engine-portable, the SAME text is the DuckDB oracle. A hash match here
proves the SQL front-end is not a second dialect: ``spark.sql`` over the
catalog and the DataFrame twins (tpch_q3/q5) produce byte-identical result
hashes.

Pushdown through the view boundary (filters reaching the lakehouse data
source's segment pruning) is pinned separately in tests/test_sql_catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from lakehouse_spark.catalog import LakeCatalog
from lakehouse_spark.queries._core import CATALOG, _q

# One portable SQL text per entry: Spark runs it via the catalog, DuckDB as
# the oracle. Decimal-sum rounding keeps both engines order-independent
# (see _core._dsum_sql).
_Q3_SQL = CATALOG["tpch_q3_shipping_priority"].oracle
_Q5_SQL = CATALOG["tpch_q5_local_supplier_volume"].oracle

_PARAM_SQL = """
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '{lo}'
      AND o_orderdate <  TIMESTAMP '{hi}'
      AND o_orderstatus = '{status}'
    GROUP BY n_name
"""


def _cat(spark: SparkSession, sf_dir: str) -> LakeCatalog:
    cat = LakeCatalog(spark)
    cat.register_testdata(
        sf_dir,
        ("customer", "orders", "lineitem", "supplier", "nation", "region"),
    )
    return cat


@_q(
    "sql_front_q3",
    _Q3_SQL,
    doc="TPC-H Q3 through the SQL-by-name front-end: the EXACT oracle text "
    "runs on Spark via LakeCatalog.sql over registered views — hash must "
    "match the DataFrame twin tpch_q3_shipping_priority",
)
def sql_front_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cat(spark, sf_dir).sql(_Q3_SQL)


@_q(
    "sql_front_q5",
    _Q5_SQL,
    doc="TPC-H Q5 (6-way join) through the SQL-by-name front-end, same "
    "portable SQL text both engines",
)
def sql_front_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cat(spark, sf_dir).sql(_Q5_SQL)


@_q(
    "sql_front_named_params",
    _PARAM_SQL.format(lo="1997-01-01", hi="1998-01-01", status="F"),
    doc="Named-parameter SQL join through the catalog: parameters bind as "
    "Catalyst literals (injection-safe), so constant folding and pushdown "
    "apply; the oracle inlines the same literals",
)
def sql_front_named_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat(spark, sf_dir)
    return cat.sql(
        """
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= CAST(:lo AS TIMESTAMP)
          AND o_orderdate < CAST(:hi AS TIMESTAMP)
          AND o_orderstatus = :status
        GROUP BY n_name
        """,
        args={
            "lo": "1997-01-01 00:00:00",
            "hi": "1998-01-01 00:00:00",
            "status": "F",
        },
    )


_DML_PIPELINE_ORACLE = """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
    ),
    after_delete AS (
      SELECT * FROM base
      WHERE NOT (o_orderstatus = 'F' AND o_orderkey <= 1000)
    ),
    after_update AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'O' THEN o_custkey + 1000000
                  ELSE o_custkey END AS o_custkey,
             o_orderstatus
      FROM after_delete
    ),
    after_insert AS (
      SELECT * FROM after_update
      UNION ALL
      SELECT * FROM (VALUES (900000001, 42, 'Z'), (900000002, 43, 'Z'))
        t(o_orderkey, o_custkey, o_orderstatus)
    ),
    after_merge AS (
      -- MERGE semantics, sf-agnostic: key 1500 exists at sf >= 0.01
      -- (matched -> custkey updated, status kept) but not at sf0.001
      -- (not matched -> inserted with the source row's status 'M').
      SELECT o_orderkey,
             CASE WHEN o_orderkey = 1500 THEN 777 ELSE o_custkey END
               AS o_custkey,
             o_orderstatus
      FROM after_insert
      UNION ALL
      SELECT 900000005, 778, 'M'
      UNION ALL
      SELECT 1500, 777, 'M'
      WHERE NOT EXISTS (
        SELECT 1 FROM after_insert WHERE o_orderkey = 1500
      )
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM after_merge
    GROUP BY o_orderstatus
"""


@_q(
    "sql_dml_pipeline",
    _DML_PIPELINE_ORACLE,
    doc=(
        "SQL DML round-trip through the catalog (round 9): DELETE / UPDATE "
        "/ INSERT / MERGE INTO a registered TableStore name route to the "
        "store's transactional DML (lakehouse_spark.sqldml) — file-skipping "
        "predicates extracted from the WHERE conjuncts, O(delta) manifest "
        "commits, snapshot-conflict detection — and the final table state "
        "must hash-match the same relational algebra replayed in DuckDB as "
        "pure SELECTs (delete = anti-filter, update = CASE projection, "
        "insert/merge = UNION ALL + keyed CASE). All-integer arithmetic so "
        "the cross-engine hash is exact. The reference mutates every "
        "entity by name over its API (amplifier_library/sessions/"
        "manager.py:422-452, routers/sessions.py CRUD)."
    ),
)
def sql_dml_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from lakehouse_spark.io import load_table
    from lakehouse_spark.mutation.store import TableStore

    tmp = tempfile.mkdtemp(prefix="sql_dml_entry_")
    st = TableStore(
        spark,
        os.path.join(tmp, "orders"),
        key="o_orderkey",
        stats_cols=("o_orderkey",),
    )
    st.init(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("dml_orders", store=st, follow_head=True)
    cat.sql(
        "DELETE FROM dml_orders "
        "WHERE o_orderstatus = 'F' AND o_orderkey <= 1000"
    )
    cat.sql(
        "UPDATE dml_orders SET o_custkey = o_custkey + 1000000 "
        "WHERE o_orderstatus = 'O'"
    )
    cat.sql(
        "INSERT INTO dml_orders (o_orderkey, o_custkey, o_orderstatus) "
        "VALUES (900000001, 42, 'Z'), (900000002, 43, 'Z')"
    )
    cat.sql(
        "MERGE INTO dml_orders AS t USING ("
        "  SELECT CAST(k AS BIGINT) AS o_orderkey,"
        "         CAST(c AS BIGINT) AS o_custkey, s AS o_orderstatus"
        "  FROM VALUES (1500, 777, 'M'), (900000005, 778, 'M') v(k, c, s)"
        ") AS s ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET o_custkey = s.o_custkey "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    return cat.sql(
        """
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM dml_orders
        GROUP BY o_orderstatus
        """
    )


_TT_CTAS_ORACLE = """
    SELECT 'v0' AS snap,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust
    FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT 'head' AS snap,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust
    FROM orders
"""


@_q(
    "sql_time_travel_ctas",
    _TT_CTAS_ORACLE,
    doc=(
        "Inline SQL time travel + CTAS (round 9): FROM t VERSION AS OF 0 "
        "inside a CREATE TABLE ... LOCATION ... AS SELECT materializes the "
        "v0 snapshot into a NEW TableStore through the catalog, and the "
        "final union of v0-vs-head aggregates must hash-match DuckDB "
        "replaying the same slices as plain SELECTs (v0 = the init "
        "commit's filter, head = all rows). All-integer arithmetic."
    ),
)
def sql_time_travel_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from lakehouse_spark.io import load_table
    from lakehouse_spark.mutation.store import TableStore

    tmp = tempfile.mkdtemp(prefix="sql_tt_entry_")
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    st = TableStore(
        spark,
        os.path.join(tmp, "orders"),
        key="o_orderkey",
        stats_cols=("o_orderkey",),
    )
    st.init(base.filter("o_orderstatus = 'F'"))  # version 0
    st.append(base.filter("o_orderstatus <> 'F'"))  # head
    cat = LakeCatalog(spark)
    cat.register("tt_orders", store=st, follow_head=True)
    cat.sql(
        "CREATE TABLE tt_v0 KEY o_orderkey "
        f"LOCATION '{os.path.join(tmp, 'v0')}' "
        "AS SELECT * FROM tt_orders VERSION AS OF 0"
    )
    return cat.sql(
        """
        SELECT 'v0' AS snap,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        FROM tt_v0
        UNION ALL
        SELECT 'head' AS snap,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        FROM tt_orders
        """
    )


_SUBQUERY_DML_ORACLE = """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
    ),
    after_d1 AS (
      -- key-route delete: id-set from a subquery over the pre-image
      SELECT * FROM base WHERE o_orderkey NOT IN (
        SELECT o_orderkey FROM base
        WHERE o_orderstatus = 'F' AND o_orderkey <= 2000)
    ),
    after_d2 AS (
      -- inline route: non-key IN-subquery plus a plain conjunct
      SELECT * FROM after_d1 WHERE NOT (
        o_custkey IN (SELECT c_custkey FROM customer
                      WHERE c_mktsegment = 'BUILDING')
        AND o_orderstatus = 'O')
    ),
    after_u AS (
      SELECT o_orderkey,
             CASE WHEN o_custkey IN (SELECT c_custkey FROM customer
                                     WHERE c_mktsegment = 'MACHINERY')
                  THEN o_custkey + 5000000 ELSE o_custkey END AS o_custkey,
             o_orderstatus
      FROM after_d2
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM after_u
    GROUP BY o_orderstatus
"""


@_q(
    "sql_dml_subquery",
    _SUBQUERY_DML_ORACLE,
    doc=(
        "DELETE/UPDATE with subqueries in WHERE (round 10): a positive "
        "IN-subquery on the TABLE KEY routes to delete_keys (the frame "
        "joins distributed with key-stats segment skipping — the "
        "reference's cascade delete as SQL, amplifier_library/sessions/"
        "manager.py:422-452), a non-key IN with an extra conjunct takes "
        "the bounded inline-literal route, and an UPDATE's IN-subquery "
        "scopes the SET. Subqueries resolve through the catalog, so the "
        "first DELETE's subquery reads the table's own pre-image. Final "
        "state hash-matches DuckDB replaying the same algebra as pure "
        "SELECTs; all-integer arithmetic."
    ),
)
def sql_dml_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from lakehouse_spark.io import load_table
    from lakehouse_spark.mutation.store import TableStore

    tmp = tempfile.mkdtemp(prefix="sql_subq_entry_")
    st = TableStore(
        spark,
        os.path.join(tmp, "orders"),
        key="o_orderkey",
        stats_cols=("o_orderkey",),
    )
    st.init(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("sq_orders", store=st, follow_head=True)
    cat.register(
        "sq_customer", df=load_table(spark, sf_dir, "customer")
    )
    cat.sql(
        "DELETE FROM sq_orders WHERE o_orderkey IN "
        "(SELECT o_orderkey FROM sq_orders "
        " WHERE o_orderstatus = 'F' AND o_orderkey <= 2000)"
    )
    cat.sql(
        "DELETE FROM sq_orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM sq_customer "
        " WHERE c_mktsegment = 'BUILDING') "
        "AND o_orderstatus = 'O'"
    )
    cat.sql(
        "UPDATE sq_orders SET o_custkey = o_custkey + 5000000 "
        "WHERE o_custkey IN (SELECT c_custkey FROM sq_customer "
        "                    WHERE c_mktsegment = 'MACHINERY')"
    )
    return cat.sql(
        """
        SELECT o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM sq_orders
        GROUP BY o_orderstatus
        """
    )


_UPDATE_KEYROUTE_ORACLE = """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ),
    after_u1 AS (
      -- distributed key route: positive IN-subquery on the TABLE KEY
      SELECT o_orderkey,
             CASE WHEN o_orderkey IN (
                    SELECT o_orderkey FROM base WHERE o_totalprice > 150000)
                  THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey,
             o_totalprice
      FROM base
    ),
    after_u2 AS (
      -- key route composed with a plain conjunct (rides as row filter);
      -- the subquery reads the state AFTER the first update
      SELECT o_orderkey,
             CASE WHEN o_orderkey IN (
                    SELECT o_orderkey FROM after_u1
                    WHERE o_custkey > 1000000)
                   AND o_orderkey % 2 = 0
                  THEN o_custkey + 10000000 ELSE o_custkey END AS o_custkey,
             o_totalprice
      FROM after_u1
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
           CAST(sum(CASE WHEN o_custkey >= 10000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN o_custkey BETWEEN 1000000 AND 9999999
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_first
    FROM after_u2
"""


@_q(
    "sql_dml_update_keyroute",
    _UPDATE_KEYROUTE_ORACLE,
    doc=(
        "UPDATE ... WHERE key IN (SELECT ...) on the DISTRIBUTED route "
        "(round 11): the subquery frame semi-joins the target — no "
        "inline-literal cap, key-stats file skipping intact — and a "
        "plain AND conjunct rides along as the row filter. Two chained "
        "updates, the second's subquery reading the first's post-state "
        "through the catalog head. Final state hash-matches DuckDB "
        "replaying the same algebra as pure SELECTs; all-integer "
        "arithmetic."
    ),
)
def sql_dml_update_keyroute(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from lakehouse_spark.io import load_table
    from lakehouse_spark.mutation.store import TableStore

    tmp = tempfile.mkdtemp(prefix="sql_updkey_entry_")
    st = TableStore(
        spark,
        os.path.join(tmp, "orders"),
        key="o_orderkey",
        stats_cols=("o_orderkey",),
    )
    st.init(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("uk_orders", store=st, follow_head=True)
    cat.sql(
        "UPDATE uk_orders SET o_custkey = o_custkey + 1000000 "
        "WHERE o_orderkey IN (SELECT o_orderkey FROM uk_orders "
        "                     WHERE o_totalprice > 150000)"
    )
    cat.sql(
        "UPDATE uk_orders SET o_custkey = o_custkey + 10000000 "
        "WHERE o_orderkey IN (SELECT o_orderkey FROM uk_orders "
        "                     WHERE o_custkey > 1000000) "
        "AND o_orderkey % 2 = 0"
    )
    return cat.sql(
        """
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
               CAST(sum(CASE WHEN o_custkey >= 10000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both,
               CAST(sum(CASE WHEN o_custkey BETWEEN 1000000 AND 9999999
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_first
        FROM uk_orders
        """
    )

"""Frames the library builds from driver-held rows enter Spark through one
builder, ``session.local_frame``: an Arrow LocalRelation (no Python task
per scan, no Spark job to collect), with the rows the list-built frame
would hold — NULLs and naive TIMESTAMPs included."""

from __future__ import annotations

import time
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from lakehouse_spark.session import local_frame

SF_SMALL = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _list_built(spark, rows, schema):
    if hasattr(rows, "to_pylist"):  # an Arrow table
        rows = [tuple(r.values()) for r in rows.to_pylist()]
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def spy(spark, monkeypatch):
    """``spy(module)`` records every ``local_frame`` call made through
    ``module``; ``check()`` asserts each built a LocalRelation holding the
    list-built frame's rows and returns the number of calls."""
    calls = []

    def install(module):
        real = module.local_frame

        def wrapped(spark_, rows, schema):
            df = real(spark_, rows, schema)
            calls.append((rows, schema, df))
            return df

        monkeypatch.setattr(module, "local_frame", wrapped)

    def check():
        for rows, schema, df in calls:
            assert _plan(df) == "LocalRelation"
            ref = _list_built(spark, rows, schema)
            assert _plan(ref) == "LogicalRDD"
            assert df.schema == ref.schema
            assert sorted(map(repr, df.collect())) == sorted(
                map(repr, ref.collect())
            )
        n = len(calls)
        calls.clear()
        return n

    install.check = check
    return install


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_local_frame_keeps_the_list_path_rows(spark, monkeypatch, tz):
    """A naive datetime is local wall time on both paths, so the instant
    (not just the printed value) agrees whatever the host's zone."""
    monkeypatch.setenv("TZ", tz)
    time.tzset()
    try:
        schema = "id long, name string, ts timestamp, ok boolean"
        rows = [
            (1, "a", datetime(2026, 1, 15, 10, 30, 0, 250), True),
            (None, None, None, None),
            (3, "c", datetime(2026, 7, 1, 23, 59, tzinfo=timezone.utc), False),
        ]
        got, ref = local_frame(spark, rows, schema), spark.createDataFrame(rows, schema)
        assert _plan(got) == "LocalRelation"

        def instants(df):
            return sorted(
                map(repr, df.select("id", "name", F.unix_micros("ts"), "ok").collect())
            )

        assert instants(got) == instants(ref)
    finally:
        monkeypatch.undo()
        time.tzset()


def test_closure_seeds_are_local(spark, tmp_path, spy):
    from lakehouse_spark import api
    from lakehouse_spark.queries import CATALOG, sessions_graph

    spy(sessions_graph)
    for name in ("j3_recursive_descendants", "j3_clone_remap", "graph_hop_distance"):
        CATALOG[name].build(spark, SF_SMALL).collect()
    assert spy.check() == 3

    spy(api)
    lake = api.SessionLake(spark, str(tmp_path))
    lake.sessions.init(
        spark.createDataFrame(
            [("r", None), ("c", "r")], "session_id string, parent_session_id string"
        )
    )
    assert {r.child for r in lake.session_closure("r").collect()} == {"r", "c"}
    assert spy.check() == 1


def test_automation_rows_are_local(spark, tmp_path, spy):
    from lakehouse_spark.mutation import automations
    from lakehouse_spark.mutation.store import TableStore

    spy(automations)
    now = datetime(2026, 1, 15, 10, 0, tzinfo=timezone.utc)
    mgr = automations.AutomationManager(
        TableStore(spark, str(tmp_path / "a"), "id"),
        TableStore(spark, str(tmp_path / "x"), "id"),
    )
    mgr.create("t1", "proj", "hourly", "go", "interval", "1h", now)  # NULL times
    mgr.update("t1", now, message="again")
    assert mgr.tick(datetime(2026, 1, 15, 11, 0, tzinfo=timezone.utc)) == 1
    assert mgr.delete("t1")
    assert spy.check() == 4


def test_sql_statement_results_are_local(spark, tmp_path, spy):
    from lakehouse_spark import sqldml
    from lakehouse_spark.catalog import LakeCatalog
    from lakehouse_spark.mutation.store import TableStore

    spy(sqldml)
    st = TableStore(spark, str(tmp_path / "t"), "id")
    st.init(spark.range(10).selectExpr("id", "CAST(id AS STRING) AS v"))
    st.append(spark.range(10, 12).selectExpr("id", "CAST(id AS STRING) AS v"))
    cat = LakeCatalog(spark)
    cat.register("t", store=st, follow_head=True)
    for q in (
        "DESCRIBE HISTORY t",
        "DESCRIBE DETAIL t",
        "OPTIMIZE t",
        "VACUUM t RETAIN 2 VERSIONS DRY RUN",
        "RESTORE t TO VERSION AS OF 1",
        "ALTER TABLE t ADD CONSTRAINT pos CHECK (id >= 0)",
        "DELETE FROM t WHERE id = 3",
    ):
        df = cat.sql(q)
        assert _plan(df) == "LocalRelation", q
    assert spy.check() == 7


def test_deletion_vector_keys_are_local(spark, tmp_path, spy):
    from lakehouse_spark.mutation import reads
    from lakehouse_spark.mutation.store import TableStore

    spy(reads)
    st = TableStore(spark, str(tmp_path / "t"), "id")
    st.init(spark.range(20).selectExpr("id", "CAST(id AS STRING) AS v"))
    st.delete_keys(spark.createDataFrame([(3,), (5,)], "id long"), mode="dv")
    assert st.read().count() == 18
    assert spy.check() >= 1

"""Round-11 ADVICE regression pins.

1. sqldml.py — ``_sql_literal`` escapes backslashes BEFORE quote-doubling:
   Spark's default parser processes backslash escapes in string literals,
   so 'a\\nb' used to round-trip to a newline and a trailing backslash made
   the rewritten WHERE unparseable (the inlined IN-list then targeted the
   wrong rows).
2. catalog.py — the TIMESTAMP AS OF alias FIFO never evicts an alias
   minted for the statement currently being rewritten: a single query with
   >8 distinct timestamps on one table used to drop a temp view its own
   rewritten SQL still referenced.
"""

from __future__ import annotations

import pytest

from lakehouse_spark.catalog import LakeCatalog
from lakehouse_spark.mutation.store import TableStore
from lakehouse_spark.sqldml import _sql_literal


# -- 1. backslash-safe literals ------------------------------------------


@pytest.mark.parametrize(
    "val",
    [
        "a\\nb",            # would become a newline under escape processing
        "C:\\new\\table",   # the ADVICE repro
        "trailing\\",       # used to break the parse outright
        "mix'quote\\and\\'both",
        "\\\\double",
    ],
)
def test_sql_literal_backslash_roundtrip(spark, val):
    lit = _sql_literal(val)
    got = spark.sql(f"SELECT {lit} AS v").collect()[0].v
    assert got == val


def test_sql_literal_backslash_in_dml_where(spark, tmp_path):
    """End-to-end: a DELETE whose inlined IN-list carries backslash values
    must delete exactly those rows (not escape-mangled variants)."""
    st = TableStore(spark, str(tmp_path / "t"), key="k")
    st.init(
        spark.createDataFrame(
            [("C:\\new\\table", 1), ("a\\nb", 2), ("a\nb", 3), ("plain", 4)],
            "k string, x int",
        )
    )
    cat = LakeCatalog(spark)
    cat.register("bslash", store=st)
    cat.sql(
        "DELETE FROM bslash WHERE k IN "
        "(SELECT k FROM bslash WHERE x IN (1, 2))"
    )
    left = {r.k for r in st.read().collect()}
    # The literal-backslash rows (x=1,2) are gone; the REAL-newline row
    # (x=3) — which the old escaping conflated with x=2 — survives.
    assert left == {"a\nb", "plain"}


# -- 2. >8 distinct timestamps in one statement ----------------------------


def test_many_timestamps_one_statement_no_self_evict(spark, tmp_path):
    st = TableStore(spark, str(tmp_path / "t"), key="id")
    st.init(spark.range(1).selectExpr("id"))
    ts = []
    for i in range(10):
        st.append(spark.range(100 + i, 101 + i).selectExpr("id"))
        ts.append(st.commit_timestamp(st.current_version()))
    import datetime as _dt

    iso = [
        _dt.datetime.fromtimestamp(t + 0.0005).isoformat() for t in ts
    ]
    cat = LakeCatalog(spark)
    cat.register("t", store=st)
    # One statement referencing 10 distinct timestamps of the same table:
    # every asof view must survive until execution.
    parts = [
        f"SELECT CAST(count(*) AS BIGINT) AS n FROM t TIMESTAMP AS OF '{s}'"
        for s in iso
    ]
    q = " UNION ALL ".join(parts)
    rows = [r.n for r in cat.sql(q).collect()]
    assert rows == list(range(2, 12))
    # The NEXT statement drains the fifo back under the cap.
    cat.sql(f"SELECT * FROM t TIMESTAMP AS OF '{iso[-1]}'").collect()
    assert len(cat._ts_aliases["t"]) <= 8


# -- round-11 mid-round code-review findings -------------------------------


def test_inline_subquery_backslash_nonkey_route(spark, tmp_path):
    """The literal READER half (extract_predicate._literal) must decode
    backslash escapes exactly as Spark's parser does — the non-key inline
    IN-subquery route feeds both the stats/bloom pruning dict and the
    row-exact predicate conjunct from it. A one-sided fix deleted 0 rows
    (the conjunct never matched) while reporting success."""
    st = TableStore(
        spark, str(tmp_path / "t"), key="k", stats_cols=("k", "c")
    )
    st.init(
        spark.createDataFrame(
            [("r1", "C:\\new\\table", 1), ("r2", "a\nb", 2), ("r3", "p", 3)],
            "k string, c string, x int",
        )
    )
    cat = LakeCatalog(spark)
    cat.register("bsnk", store=st)
    # c is NOT the key, so the subquery inlines to literals.
    out = cat.sql(
        "DELETE FROM bsnk WHERE c IN (SELECT c FROM bsnk WHERE x = 1)"
    )
    assert out.collect()[0].affected_rows == 1
    assert {r.k for r in st.read().collect()} == {"r2", "r3"}


def test_user_written_backslash_escape_in_where(spark, tmp_path):
    """User-written WHERE with a backslash escape: Spark decodes 'a\\nb'
    to a newline; the extracted predicate must compare the DECODED value
    or the row filter and pruning miss the row."""
    st = TableStore(spark, str(tmp_path / "t"), key="k", stats_cols=("c",))
    st.init(
        spark.createDataFrame(
            [("r1", "a\nb"), ("r2", "plain")], "k string, c string"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("bsuw", store=st)
    out = cat.sql("DELETE FROM bsuw WHERE c = 'a\\nb'")
    assert out.collect()[0].affected_rows == 1
    assert {r.k for r in st.read().collect()} == {"r2"}


def test_escaped_string_literals_conf_respected(spark, tmp_path):
    """Under spark.sql.parser.escapedStringLiterals=true, backslashes are
    literal: the inline writer must NOT double them and the reader must
    NOT decode them."""
    st = TableStore(spark, str(tmp_path / "t"), key="k")
    st.init(
        spark.createDataFrame(
            [("C:\\x", 1), ("Cx", 2)], "k string, x int"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("bsel", store=st)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        # x (NOT the key) forces the inline-literal route — the key route
        # semi-joins frames and never touches _sql_literal/_literal, so a
        # key-column subquery would not exercise the conf handling at all.
        out = cat.sql(
            "DELETE FROM bsel WHERE k IN (SELECT k FROM bsel WHERE x = 1) "
            "AND x = 1"
        )
        assert out.collect()[0].affected_rows == 1
        assert {r.k for r in st.read().collect()} == {"Cx"}
        # And a direct literal comparison on the raw-backslash value.
        st2 = TableStore(spark, str(tmp_path / "t2"), key="k")
        st2.init(
            spark.createDataFrame(
                [("a\\nb",), ("a\nb",)], "k string"
            )
        )
        cat.register("bsel2", store=st2)
        out2 = cat.sql(
            "DELETE FROM bsel2 WHERE k IN "
            "(SELECT k FROM bsel2 WHERE length(k) = 4) AND length(k) >= 0"
        )
        # Under escapedStringLiterals=true the 4-char value is the
        # literal-backslash 'a\nb'; it round-trips unchanged and is the
        # row deleted — the REAL-newline row survives.
        assert out2.collect()[0].affected_rows == 1
        assert {r.k for r in st2.read().collect()} == {"a\nb"}
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_ts_alias_surplus_drains_on_next_statement_any_table(
    spark, tmp_path
):
    """A >8-timestamp statement's surplus aliases drain on the NEXT
    rewritten statement even when it touches a different table."""
    import datetime as _dt

    a = TableStore(spark, str(tmp_path / "a"), key="id")
    a.init(spark.range(1).selectExpr("id"))
    ts = []
    for i in range(10):
        a.append(spark.range(100 + i, 101 + i).selectExpr("id"))
        ts.append(a.commit_timestamp(a.current_version()))
    iso = [_dt.datetime.fromtimestamp(t + 0.0005).isoformat() for t in ts]
    b = TableStore(spark, str(tmp_path / "b"), key="id")
    b.init(spark.range(2).selectExpr("id"))
    cat = LakeCatalog(spark)
    cat.register("ta", store=a)
    cat.register("tb", store=b)
    q = " UNION ALL ".join(
        f"SELECT CAST(count(*) AS BIGINT) AS n FROM ta TIMESTAMP AS OF '{s}'"
        for s in iso
    )
    cat.sql(q).collect()
    assert len(cat._ts_aliases["ta"]) == 10
    # A plain statement on ANOTHER table drains the surplus.
    cat.sql("SELECT * FROM tb").collect()
    assert len(cat._ts_aliases["ta"]) <= 8


def test_unicode_and_octal_escapes_in_where(spark, tmp_path):
    """Spark decodes \\uXXXX (4 hex) and \\0DD/\\1DD octal escapes in
    string literals; the extracted predicate must match (probed semantics:
    '\\u0041' -> 'A', '\\101' -> 'A', '\\377' stays undecoded)."""
    st = TableStore(spark, str(tmp_path / "t"), key="k", stats_cols=("c",))
    st.init(
        spark.createDataFrame(
            [("r1", "A"), ("r2", "B")], "k string, c string"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("besc", store=st)
    bs = chr(92)
    out = cat.sql(f"DELETE FROM besc WHERE c = '{bs}u0041'")
    assert out.collect()[0].affected_rows == 1
    assert {r.k for r in st.read().collect()} == {"r2"}
    st2 = TableStore(spark, str(tmp_path / "t2"), key="k", stats_cols=("c",))
    st2.init(
        spark.createDataFrame(
            [("r1", "A"), ("r2", "B")], "k string, c string"
        )
    )
    cat.register("besc2", store=st2)
    out2 = cat.sql(f"DELETE FROM besc2 WHERE c = '{bs}101'")
    assert out2.collect()[0].affected_rows == 1
    assert {r.k for r in st2.read().collect()} == {"r2"}


def test_unescape_strict_hex_and_surrogates(spark, tmp_path):
    """Pass-3 review pins: the unicode decoder requires 4 STRICT hex
    digits (int() alone also accepts ' 041'/'+123'/'1_23' forms Spark
    leaves undecoded), combines surrogate pairs into one astral code
    point, and DECLINES extraction for lone surrogate halves (conjunct
    falls back to row-exact WHERE, never wrong pruning)."""
    from lakehouse_spark.sqldml import (
        _literal,
        _UndecodableEscape,
        _unescape_backslashes as u,
    )

    bs = chr(92)
    assert u(bs + "u 041") == "u 041"  # not decoded (matches Spark)
    assert u(bs + "uD83D" + bs + "uDE00") == chr(0x1F600)
    with pytest.raises(_UndecodableEscape):
        u(bs + "uD83Dx")
    ok, _v = _literal("'" + bs + "uDE00'")
    assert ok is False
    # End-to-end: astral pair in a WHERE deletes the right row.
    st = TableStore(spark, str(tmp_path / "t"), key="k", stats_cols=("c",))
    st.init(
        spark.createDataFrame(
            [("r1", chr(0x1F600)), ("r2", "plain")], "k string, c string"
        )
    )
    cat = LakeCatalog(spark)
    cat.register("bsur", store=st)
    out = cat.sql(f"DELETE FROM bsur WHERE c = '{bs}uD83D{bs}uDE00'")
    assert out.collect()[0].affected_rows == 1
    assert {r.k for r in st.read().collect()} == {"r2"}

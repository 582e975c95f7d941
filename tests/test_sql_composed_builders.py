"""The hot query constructors compose Spark-SQL strings (one
expr()/selectExpr parse) instead of Column-DSL chains — one py4j round-trip
per F.* call measured ~0.5-1 ms on a virtualized host and query
CONSTRUCTION was ~45% of the headline suite. These tests pin the string
templates against independent pure-Python references, and that the
io-layer schema memo never changes what a read returns.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from lakehouse_spark.functions.scalar import hash64_spark_sql


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "one two"),  # fewer words than n=3 → no grams
            (4, ""),
            (5, "repeat repeat repeat repeat repeat"),
        ],
        "doc_id long, text string",
    )


def test_hash64_spark_sql_rejects_unknown_mode():
    with pytest.raises(ValueError):
        hash64_spark_sql("x", mode="fnv")


def _py_word_ngrams(text, n):
    """Reference: a plain sliding window over Spark's split-on-space."""
    if text is None:
        return None
    words = text.split(" ")
    if len(words) < n:
        return None
    return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]


def test_word_ngrams_sql_matches_python_sliding_window(spark, docs):
    from lakehouse_spark.operators.text import word_ngrams_sql

    extra = spark.createDataFrame(
        [(6, "a  b c "), (7, "héllo wörld ñ 日本 語"), (8, None)],
        "doc_id long, text string",
    )
    all_docs = docs.union(extra)
    rows = all_docs.collect()
    for n in range(1, 6):
        got = {
            r.doc_id: r.g
            for r in all_docs.selectExpr(
                "doc_id", f"{word_ngrams_sql('text', n)} as g"
            ).collect()
        }
        want = {r.doc_id: _py_word_ngrams(r.text, n) for r in rows}
        assert got == want, n
    # documents shorter than n give NULL, not an empty array
    assert want[3] is None and want[1] is not None


def test_minhash_signature_sql_matches_python_xor_min(spark, docs):
    from lakehouse_spark.mutation.bloom import py_hash64
    from lakehouse_spark.operators.dedup import (
        minhash_signature_sql,
        shingle_frame,
        xor_salts,
    )

    sh = shingle_frame(docs, "doc_id", "text", 3, spread_input=False)
    sh = sh.union(
        spark.createDataFrame([(99, [])], "id long, sh array<string>")
    )
    hs = f"transform(sh, s -> {hash64_spark_sql('s')})"
    got = {
        r.id: r.sig
        for r in sh.selectExpr(
            "id", f"{minhash_signature_sql(hs, 16)} as sig"
        ).collect()
    }
    want = {}
    for r in sh.collect():
        hashes = [py_hash64(s) for s in r.sh]
        want[r.id] = [
            min((h ^ salt for h in hashes), default=1 << 62)
            for salt in xor_salts(16)
        ]
    assert got == want
    assert got[99] == [1 << 62] * 16  # empty input keeps the sentinel


def test_pair_tool_events_quoted_kind_values(spark):
    # _sql_str must survive kind values containing quotes/backslashes —
    # they flow into CASE WHEN string literals now.
    from lakehouse_spark.operators.sessionize import pair_tool_events

    ev = spark.createDataFrame(
        [
            ("s1", "it's pre", 1, 10),
            ("s1", 'post"\\', 2, 20),
            ("s1", "it's pre", 3, 30),
        ],
        "sid string, kind string, eid long, ts long",
    )
    out = pair_tool_events(
        ev,
        keys=["sid"],
        kind_col="kind",
        order=[F.asc("ts"), F.asc("eid")],
        pre_kind="it's pre",
        post_kind='post"\\',
        rank_col="rn",
    ).collect()
    assert len(out) == 2
    matched = {r.rn: (r.eid, r.eid_post) for r in out}
    assert matched[1] == (1, 2)  # 1st pre ↔ 1st post
    assert matched[2] == (3, None)  # 2nd pre unmatched


def test_load_table_schema_memo_invalidates_on_rewrite(spark, tmp_path):
    # The memo is keyed on (path, mtime_ns, size): rewriting the table with
    # a DIFFERENT schema must be picked up, not served stale.
    from lakehouse_spark import io as lio

    sfd = str(tmp_path)
    p = os.path.join(sfd, "nation.parquet")
    spark.createDataFrame(
        [(1, "a", 0, "x")],
        "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    ).toPandas().to_parquet(p)
    first = lio.load_table(spark, sfd, "nation")
    assert dict(first.dtypes)["n_nationkey"] == "bigint"
    assert lio.load_table(spark, sfd, "nation").schema == first.schema
    # rewrite with a narrower type; bump mtime to defeat same-second stats
    os.remove(p)
    spark.createDataFrame(
        [(1, "a", 0, "x")],
        "n_nationkey int, n_name string, n_regionkey long, n_comment string",
    ).toPandas().to_parquet(p)
    os.utime(p, ns=(os.stat(p).st_atime_ns, os.stat(p).st_mtime_ns + 7))
    again = lio.load_table(spark, sfd, "nation")
    assert dict(again.dtypes)["n_nationkey"] == "int"

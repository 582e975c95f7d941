"""The two hash modes of functions.scalar.hash64: md5 (the default) must
equal its Python and DuckDB replays; xxhash64, the JVM-native fast path
for production runs, must be deterministic, in range, and semantically
equivalent wherever an operator routes through it."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_spark.functions.scalar import hash64
from lakehouse_spark.operators import dedup, text


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(2000).select(F.col("id").cast("string").alias("id"))


def test_hash64_xxhash_mode_range_and_determinism(spark, ids):
    h = ids.select(hash64("id", mode="xxhash64").alias("h"))
    stats = h.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi"),
        F.countDistinct("h").alias("n"),
    ).collect()[0]
    assert stats.lo >= 0 and stats.hi < (1 << 60)
    assert stats.n == 2000  # no collisions on 2k ids
    # same expression twice → identical values (pure function of input)
    a = {r.id: r.h for r in ids.select("id", hash64("id", mode="xxhash64").alias("h")).collect()}
    b = {r.id: r.h for r in ids.select("id", hash64("id", mode="xxhash64").alias("h")).collect()}
    assert a == b
    # seeded families are independent of the unseeded one
    s = {r.id: r.h for r in ids.select("id", hash64("id", seed=7, mode="xxhash64").alias("h")).collect()}
    assert s != a


def test_hash64_rejects_unknown_mode():
    with pytest.raises(ValueError, match="hash mode"):
        hash64("x", mode="fnv")


def test_hash_split_xxhash_deterministic_and_proportional(spark, ids):
    w = {"train": 8, "val": 1, "test": 1}
    one = text.hash_split(ids, "id", w, hash_mode="xxhash64")
    two = text.hash_split(ids.repartition(7), "id", w, hash_mode="xxhash64")
    m1 = {r.id: r.split for r in one.collect()}
    m2 = {r.id: r.split for r in two.collect()}
    assert m1 == m2  # repartition- and rerun-stable
    counts = {k: sum(1 for v in m1.values() if v == k) for k in w}
    assert 0.7 < counts["train"] / 2000 < 0.9
    assert counts["val"] > 0 and counts["test"] > 0
    # and the two modes give different (but individually stable) layouts
    md5 = {r.id: r.split for r in text.hash_split(ids, "id", w).collect()}
    assert md5 != m1


def test_weighted_sample_xxhash_deterministic(spark, ids):
    df = ids.withColumn("w", (F.col("id").cast("long") % 5 + 1).cast("double"))
    s1 = sorted(r.id for r in text.weighted_sample(df, "id", "w", 50, hash_mode="xxhash64").collect())
    s2 = sorted(r.id for r in text.weighted_sample(df.repartition(5), "id", "w", 50, hash_mode="xxhash64").collect())
    assert s1 == s2 and len(s1) == 50


def test_deterministic_sample_xxhash_stable(spark, ids):
    s1 = {r.id for r in text.deterministic_sample(ids, "id", 0.3, hash_mode="xxhash64").collect()}
    s2 = {r.id for r in text.deterministic_sample(ids.repartition(3), "id", 0.3, hash_mode="xxhash64").collect()}
    assert s1 == s2
    assert 0.2 < len(s1) / 2000 < 0.4


def test_minhash_modes_agree_on_verified_pairs(spark):
    """Candidate generation differs per hash family, but verification is
    exact Jaccard on the shingle sets — on clear near-dups both modes must
    surface the same pairs."""
    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "falls gently on the quiet green field beyond the old wooden fence"
    )
    rows = [(f"d{i}", base + f" variant token {i % 3}") for i in range(12)]
    # filler docs pairwise DISSIMILAR (every word carries the doc index):
    # borderline pairs would differ between hash families by LSH recall
    rows += [(f"u{i}", " ".join(f"tok{i}x{j}" for j in range(20)))
             for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    kw = dict(n=3, k=16, bands=4, min_jaccard=0.5)
    md5_pairs = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_near_duplicates(docs, "doc_id", "text", **kw).collect()
    }
    xxh_pairs = {
        (r.a_id, r.b_id)
        for r in dedup.minhash_near_duplicates(
            docs, "doc_id", "text", hash_mode="xxhash64", **kw
        ).collect()
    }
    dedup.release_caches()
    assert md5_pairs and md5_pairs == xxh_pairs


def test_hash64_md5_matches_python_mirror_and_duckdb(spark):
    """md5 mode is the cross-engine hash: Spark's value must equal the
    Python mirror (bloom.py_hash64 over the seed-prefixed string) and DuckDB
    running the oracle's rendering on the same strings."""
    import duckdb

    from lakehouse_spark.mutation.bloom import py_hash64
    from lakehouse_spark.queries.dedup_sim import _hash64_sql

    strings = ["", "a", "doc-17", "The quick brown fox", "héllo wörld", "日本語 ✓"]
    rows = list(enumerate(strings))
    df = spark.createDataFrame(rows, "i int, x string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, x VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    for seed in (0, 7):
        got = df.select("i", hash64("x", seed=seed).alias("h")).collect()
        spark_h = {r.i: r.h for r in got}
        duck_sql = f"SELECT i, {_hash64_sql('x', seed)} FROM t"
        duck_h = dict(con.execute(duck_sql).fetchall())
        py_h = {i: py_hash64(f"s{seed}:{x}" if seed else x) for i, x in rows}
        assert spark_h == py_h == duck_h, seed
        assert all(0 <= h < (1 << 60) for h in py_h.values())
    con.close()

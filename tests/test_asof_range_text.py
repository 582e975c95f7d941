"""Edge-semantics tests for the as-of join, bucketed range join, Gopher
rules, and C4-style span dedup (the sf0.01 oracle parity for each lives in
test_catalog_parity.py — these pin the boundary behaviors the oracle data
may never exercise)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from lakehouse_spark.operators import joins, text


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


class TestAsofJoin:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [
                (1, "u1", _ts("2024-01-01 10:00:00")),
                (2, "u1", _ts("2024-01-01 12:00:00")),
                (3, "u2", _ts("2024-01-01 09:00:00")),
            ],
            "event_id long, user_id string, ts timestamp",
        )
        right = spark.createDataFrame(
            [
                ("u1", _ts("2024-01-01 09:30:00"), 100),
                ("u1", _ts("2024-01-01 10:00:00"), 200),  # ties left #1
                ("u1", _ts("2024-01-01 11:00:00"), 300),
                ("u2", _ts("2024-01-01 09:30:00"), 400),  # after left #3
            ],
            "user_id string, r_ts timestamp, r_val long",
        )
        return left, right

    def test_latest_strictly_prior_wins(self, spark):
        left, right = self._frames(spark)
        out = {
            r.event_id: (r.r_val, r.r_ts)
            for r in joins.asof_join(left, right, "user_id", "ts", "r_ts").collect()
        }
        # 10:00 left must NOT see the 10:00 right row (strict), only 09:30.
        assert out[1] == (100, _ts("2024-01-01 09:30:00"))
        # 12:00 left sees the latest of three priors.
        assert out[2] == (300, _ts("2024-01-01 11:00:00"))

    def test_no_prior_row_yields_nulls(self, spark):
        left, right = self._frames(spark)
        out = {
            r.event_id: r.r_val
            for r in joins.asof_join(left, right, "user_id", "ts", "r_ts").collect()
        }
        assert out[3] is None  # u2's only right row is after 09:00

    def test_left_rowcount_preserved(self, spark):
        left, right = self._frames(spark)
        assert joins.asof_join(left, right, "user_id", "ts", "r_ts").count() == 3


class TestRangeBucketJoin:
    def test_half_open_bounds_and_bucket_crossing(self, spark):
        # Window 23:00 → next-day 01:00 crosses a day-bucket boundary; events
        # at exactly start (in), mid (in), exactly end (OUT — half-open).
        windows = spark.createDataFrame(
            [(1, _ts("2024-01-01 23:00:00"), _ts("2024-01-02 01:00:00"))],
            "win_id long, start_ts timestamp, end_ts timestamp",
        )
        events = spark.createDataFrame(
            [
                (10, _ts("2024-01-01 23:00:00")),  # == start: included
                (11, _ts("2024-01-02 00:30:00")),  # next bucket: included
                (12, _ts("2024-01-02 01:00:00")),  # == end: excluded
                (13, _ts("2024-01-01 22:59:59")),  # before: excluded
            ],
            "event_id long, ts timestamp",
        )
        got = sorted(
            r.event_id
            for r in joins.range_bucket_join(
                events, windows, "ts", "start_ts", "end_ts"
            ).collect()
        )
        assert got == [10, 11]

    def test_no_duplicate_pairs(self, spark):
        # An event matching a multi-bucket window must appear exactly once.
        windows = spark.createDataFrame(
            [(1, _ts("2024-01-01 00:00:00"), _ts("2024-01-03 00:00:00"))],
            "win_id long, start_ts timestamp, end_ts timestamp",
        )
        events = spark.createDataFrame(
            [(10, _ts("2024-01-01 12:00:00"))], "event_id long, ts timestamp"
        )
        pairs = joins.range_bucket_join(events, windows, "ts", "start_ts", "end_ts")
        assert pairs.count() == 1


class TestGopherRules:
    def test_each_rule_fires(self, spark):
        good = "the quick brown fox jumps over a lazy dog " * 10  # 90 words
        docs = spark.createDataFrame(
            [
                (1, good),
                (2, "short text only"),  # fails min_words
                (3, "#### #### #### " * 20 + good),  # symbol ratio + alpha
                (4, ("supercalifragilistic " * 60).strip()),  # mean len + stopwords
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in text.gopher_rules(docs, "doc_id", "text").collect()}
        assert out[1].gopher_pass
        assert not out[2].gopher_pass and out[2].n_words == 3
        assert not out[3].gopher_pass and out[3].symbol_ratio > 0.1
        assert not out[4].gopher_pass
        assert out[4].mean_word_len > 10 and out[4].stop_hits == 0
        assert out[1].stop_hits >= 2

    def test_ellipsis_counted(self, spark):
        docs = spark.createDataFrame(
            [(1, "wait ... what ... is ... this ... thing ...")],
            "doc_id long, text string",
        )
        row = text.gopher_rules(docs, "doc_id", "text").first()
        # 5 ellipses over 14 whitespace tokens (the '...' are tokens too)
        assert row.symbol_ratio > 0.3


class TestSpanDedup:
    def test_cross_doc_first_wins_and_remainder(self, spark):
        # doc 1 owns span "a b"; doc 2 repeats it and keeps its unique tail.
        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b x")],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r
            for r in text.span_dedup(docs, "doc_id", "text", span_words=2).collect()
        }
        # doc 1: spans [a b][c d][e] — all first occurrences.
        assert (out[1].n_spans, out[1].n_kept) == (3, 3)
        assert out[1].dedup_text == "a b c d e"
        # doc 2: [a b] lost to doc 1, remainder span [x] kept.
        assert (out[2].n_spans, out[2].n_kept) == (2, 1)
        assert out[2].dedup_text == "x"

    def test_within_doc_repeat_removed(self, spark):
        docs = spark.createDataFrame(
            [(1, "p q p q p q")], "doc_id long, text string"
        )
        row = text.span_dedup(docs, "doc_id", "text", span_words=2).first()
        assert (row.n_spans, row.n_kept) == (3, 1)
        assert row.dedup_text == "p q"

    def test_fully_duplicated_doc_empties(self, spark):
        docs = spark.createDataFrame(
            [(1, "m n"), (2, "m n")], "doc_id long, text string"
        )
        out = {
            r.doc_id: r
            for r in text.span_dedup(docs, "doc_id", "text", span_words=2).collect()
        }
        assert out[2].n_kept == 0 and out[2].dedup_text == ""


class TestGapSessions:
    def test_boundary_matches_session_window(self, spark):
        # An event at EXACTLY gap seconds after the previous one still
        # MERGES: session_window coalesces windows [a, a+gap] and
        # [a+gap, a+2gap], which touch at the endpoint. Only a strictly
        # larger gap starts a new session.
        ev = spark.createDataFrame(
            [
                (1, "u", _ts("2024-01-01 10:00:00")),
                (2, "u", _ts("2024-01-01 10:30:00")),   # == gap: merges
                (3, "u", _ts("2024-01-01 10:59:59")),   # < gap: merges
                (4, "u", _ts("2024-01-01 11:30:00")),   # > gap from #3: new
            ],
            "event_id long, user_id string, ts timestamp",
        )
        from lakehouse_spark.operators.sessionize import gap_sessions

        mine = sorted(
            (r.session_start, r.n_events)
            for r in gap_sessions(ev, "user_id", "ts", "event_id", 1800).collect()
        )
        native = sorted(
            (r.start, r.n)
            for r in ev.groupBy(
                F.session_window("ts", "30 minutes"), "user_id"
            )
            .agg(F.count("*").alias("n"))
            .select(F.col("session_window.start").alias("start"), "n")
            .collect()
        )
        assert mine == native == [
            (_ts("2024-01-01 10:00:00"), 3),
            (_ts("2024-01-01 11:30:00"), 1),
        ]

    def test_parity_on_testdata(self, spark):
        # Full parity with the native operator on real event data: same
        # session count and same (user, start, n_events) triples.
        from lakehouse_spark.io import load_table
        from lakehouse_spark.operators.sessionize import gap_sessions

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        mine = sorted(
            (r.user_id, r.session_start, r.n_events)
            for r in gap_sessions(ev, "user_id", "ts", "event_id", 1800).collect()
        )
        native = sorted(
            (r.user_id, r.start, r.n)
            for r in ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count("*").alias("n"))
            .select("user_id", F.col("session_window.start").alias("start"), "n")
            .collect()
        )
        assert mine == native and len(mine) > 0


class TestNewOpInvariants:
    def test_span_dedup_conservation(self, spark):
        # Global invariant: total kept spans == number of DISTINCT spans in
        # the corpus (each distinct span survives exactly once).
        from lakehouse_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        out = text.span_dedup(docs, "doc_id", "text", span_words=5)
        total_kept = out.agg(F.sum("n_kept")).collect()[0][0]
        words = F.split(F.trim(F.col("text")), r"\s+")
        n_spans = F.ceil(F.size(words) / 5)
        spans = docs.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), n_spans - 1),
                    lambda i: F.array_join(F.slice(words, i * 5 + 1, 5), " "),
                )
            ).alias("span")
        )
        n_distinct = spans.distinct().count()
        assert total_kept == n_distinct

    def test_weighted_sample_deterministic_subset(self, spark):
        from lakehouse_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "n_chars"
        )
        a = {r.doc_id for r in text.weighted_sample(docs, "doc_id", "n_chars", 25).collect()}
        b = {r.doc_id for r in text.weighted_sample(docs, "doc_id", "n_chars", 25).collect()}
        assert a == b and len(a) == 25
        all_ids = {r.doc_id for r in docs.collect()}
        assert a <= all_ids

    def test_weighted_sample_prefers_heavy_rows(self, spark):
        # With weights 1000:1, the heavy half must dominate the sample.
        rows = [(i, 1000 if i < 50 else 1) for i in range(100)]
        df = spark.createDataFrame(rows, "id long, w long")
        got = [r.id for r in text.weighted_sample(df, "id", "w", 20).collect()]
        heavy = sum(1 for i in got if i < 50)
        assert heavy >= 16  # P(light row chosen) ~ w_l/w_h per slot

    def test_asof_preserves_left_cardinality_on_testdata(self, spark):
        from lakehouse_spark.io import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        )
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("c_ts"), F.col("value").alias("c_v")
        )
        out = joins.asof_join(purchases, clicks, "user_id", "ts", "c_ts")
        assert out.count() == purchases.count()
        # and every non-null attribution respects key equality + strictness
        assert (
            out.filter(F.col("c_ts").isNotNull() & (F.col("c_ts") >= F.col("ts"))).count()
            == 0
        )


class TestNormalizeUrl:
    CASES = [
        ("HTTP://Example.COM:80/a/?b=2&a=1#frag", "http://example.com/a?a=1&b=2"),
        ("https://Host.io:443/x", "https://host.io/x"),
        ("https://host.io:8443/x", "https://host.io:8443/x"),  # non-default kept
        ("http://h/p/", "http://h/p"),
        ("http://h/?z=1", "http://h?z=1"),
    ]

    def test_known_forms(self, spark):
        df = spark.createDataFrame([(u,) for u, _ in self.CASES], "url string")
        got = [r.c for r in df.select(text.normalize_url("url").alias("c")).collect()]
        assert got == [want for _, want in self.CASES]

    def test_idempotent(self, spark):
        df = spark.createDataFrame([(u,) for u, _ in self.CASES], "url string")
        once = df.select(text.normalize_url("url").alias("url"))
        twice = once.select(text.normalize_url("url").alias("url"))
        assert [r.url for r in once.collect()] == [r.url for r in twice.collect()]


class TestCsvSource:
    def test_typed_scan_skips_malformed_and_header(self, spark, tmp_path):
        from pyspark.sql.types import _parse_datatype_string

        from lakehouse_spark.sources import csvsrc

        p = tmp_path / "data.csv"
        p.write_text(
            "id,name,score\n"
            "1,alice,0.5\n"
            "not,a,valid,row,at,all\n"
            "\n"
            "2,bob,0.75\n"
            "3,carol,not_a_number\n"
        )
        schema = _parse_datatype_string("id long, name string, score double")
        rows = {
            r.id: (r.name, r.score)
            for r in csvsrc.read_csv(
                spark, str(p), schema, skip_header=True
            ).collect()
        }
        # PERMISSIVE fills unparseable CELLS with null but flags the row via
        # the corrupt column -> row 3 is quarantined, not half-parsed.
        assert rows == {1: ("alice", 0.5), 2: ("bob", 0.75)}
        bad = {
            r.raw_line
            for r in csvsrc.corrupt_rows(spark, str(p), schema).collect()
        }
        assert "not,a,valid,row,at,all" in bad
        assert "3,carol,not_a_number" in bad

    def test_streaming_parity(self, spark, tmp_path):
        from pyspark.sql.types import _parse_datatype_string

        from lakehouse_spark.sources import csvsrc

        src = tmp_path / "csvstream"
        src.mkdir()
        (src / "a.csv").write_text("1,x,0.1\nbroken,row\n2,y,0.2\n")
        schema = _parse_datatype_string("id long, name string, score double")
        stream = csvsrc.read_csv_stream(spark, str(src), schema)
        q = (
            stream.writeStream.format("memory")
            .queryName("csv_stream_test")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "csv_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        got = sorted(
            (r.id, r.name) for r in spark.sql("SELECT * FROM csv_stream_test").collect()
        )
        assert got == [(1, "x"), (2, "y")]


class TestExportShards:
    def test_layout_determinism_and_pruned_read(self, spark, tmp_path):
        import os

        from lakehouse_spark.io import load_table
        from lakehouse_spark.operators import export

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text", "source"
        )
        out1, out2 = str(tmp_path / "e1"), str(tmp_path / "e2")
        export.export_training_shards(docs, out1, n_shards=4)
        export.export_training_shards(docs, out2, n_shards=4)

        # layout: split=*/shard=* directories, one file set per shard
        splits = sorted(
            d for d in os.listdir(out1) if d.startswith("split=")
        )
        assert splits == ["split=test", "split=train", "split=val"]
        shards = sorted(
            d for d in os.listdir(os.path.join(out1, "split=train"))
            if d.startswith("shard=")
        )
        assert len(shards) == 4

        # lossless + deterministic placement: identical (id, split, shard)
        # assignment across independent export runs
        a = {
            (r.doc_id, r.split, r.shard)
            for r in spark.read.parquet(out1).collect()
        }
        b = {
            (r.doc_id, r.split, r.shard)
            for r in spark.read.parquet(out2).collect()
        }
        assert a == b and len(a) == docs.count()

        # reader contract: one split, all its rows, nothing else
        train = export.read_split(spark, out1, "train")
        n_train = sum(1 for (_, s, _) in a if s == "train")
        assert train.count() == n_train

        # shard balance: uniform hash keeps the largest shard within 3x of
        # the smallest at this corpus size
        sizes = [
            sum(1 for (_, s, sh) in a if s == "train" and sh == k)
            for k in range(4)
        ]
        assert min(sizes) > 0 and max(sizes) <= 3 * min(sizes)


class TestCorpusReport:
    def test_panel_complete_and_consistent(self, spark):
        from lakehouse_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        panel = text.corpus_report(docs, "doc_id", "text")
        assert panel.count() == docs.count()
        cols = set(panel.columns)
        for want in [
            "quality_score", "gopher_pass", "lang_pred", "n_tokens_ws",
            "n_tokens_bpe", "repetition_3gram", "dedup_fingerprint",
            "mean_word_len", "stopword_ratio", "frac_alpha_words",
        ]:
            assert want in cols, want
        row = panel.first()
        assert 0.0 <= row.quality_score <= 1.0
        assert row.n_tokens_ws > 0 and row.n_tokens_bpe >= row.n_tokens_ws


class TestBloomDecontaminate:
    def test_prescreen_prunes_most_grams(self, spark):
        """The bloom's value proposition in numbers: candidate grams after
        the prescreen are a small fraction of corpus grams (the exact join
        only touches those), while the final answer equals the plain path."""
        from lakehouse_spark.io import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        bench = docs.filter(F.col("doc_id") < 5)
        grams = docs.select(
            F.explode(F.array_distinct(text.word_ngrams("text", 5))).alias("g")
        )
        total = grams.count()

        # reproduce the operator's prescreen count via its own pieces
        out = text.bloom_decontaminate(docs, bench, "doc_id", "text", n=5)
        flagged = {r.doc_id for r in out.filter("contaminated").collect()}
        plain = {
            r.doc_id
            for r in text.decontaminate(docs, bench, "doc_id", "text", n=5)
            .filter("contaminated")
            .collect()
        }
        assert flagged == plain
        # benchmark is 1% of docs; an effective prescreen leaves well under
        # a tenth of corpus grams as candidates
        bench_grams = bench.select(
            F.explode(F.array_distinct(text.word_ngrams("text", 5))).alias("g")
        ).distinct().count()
        assert bench_grams < total / 10


class TestCurationJob:
    def test_end_to_end_funnel(self, spark, tmp_path):
        from lakehouse_spark.io import load_table
        from lakehouse_spark.operators.curation_job import run_curation

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        bench = docs.filter(F.col("doc_id") < 5)
        out = str(tmp_path / "corpus")
        stats = run_curation(spark, docs, bench, out)

        # monotone funnel, nothing negative, something survives
        order = [
            "n_input", "n_after_quality", "n_after_exact",
            "n_after_neardup", "n_after_decontam",
        ]
        vals = [stats[k] for k in order]
        assert vals[0] == docs.count()
        assert all(a >= b for a, b in zip(vals, vals[1:]))
        assert vals[-1] > 0

        # exported corpus is exactly the survivors, readable by split
        exported = spark.read.parquet(out)
        assert exported.count() == stats["n_after_decontam"]
        # survivors contain no benchmark-contaminated docs
        from lakehouse_spark.operators import text as T

        leak = (
            T.decontaminate(
                exported.select("doc_id", "text"), bench, "doc_id", "text", n=5
            )
            .filter("contaminated")
            .count()
        )
        assert leak == 0

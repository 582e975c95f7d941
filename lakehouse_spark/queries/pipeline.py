"""LLM training-data pipeline operators: text analysis, curation
funnels, PII redaction, sequence packing, and multimodal plumbing.
(The near-dup and similarity-search entries live in :mod:`.dedup_sim`.)

Each entry pairs a Spark DataFrame builder with a DuckDB oracle over the
driver testdata; determinism rules are in the package docstring
(lakehouse_spark/queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_spark.operators import sorts, text
from lakehouse_spark.operators.skew import spread
from lakehouse_spark.queries._core import _q, _ssum_sql, _t

_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in text._STOPWORDS) + "]"


@_q(
    "text_quality",
    f"""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS n_chars_raw,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_words_raw,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
             len(regexp_extract_all(text, '[A-Z]')) AS n_upper,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 w -> list_contains({_STOP_SQL}, lower(w)))) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars_raw AS BIGINT) AS n_chars,
           CAST(n_words_raw AS BIGINT) AS n_words,
           round((n_chars_raw - (n_words_raw - 1)) * 1.0 / n_words_raw, 4) AS mean_word_len,
           round(n_punct * 1.0 / greatest(n_chars_raw, 1), 4) AS punct_ratio,
           round(n_stop * 1.0 / greatest(n_words_raw, 1), 4) AS stopword_ratio,
           round(n_upper * 1.0 / greatest(n_chars_raw, 1), 4) AS upper_ratio,
           round(CAST((CASE WHEN n_words_raw >= 5 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN n_stop * 1.0 / greatest(n_words_raw, 1) BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN n_punct * 1.0 / greatest(n_chars_raw, 1) < 0.2 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN (n_chars_raw - (n_words_raw - 1)) * 1.0 / n_words_raw BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END)
               AS DOUBLE), 2) AS quality_score
    FROM feats
    """,
    doc="Quality features + composite score (C4/Gopher-style heuristics)",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: per-row stopword/regex feature work dominates; single-split
    # scans would run it on one core (A/B at sf0.1: 0.74x, guide §2.5)
    docs = spread(_t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", "text"
    )
    return text.quality_score(docs, "text").select(
        "doc_id",
        "n_chars",
        "n_words",
        "mean_word_len",
        "punct_ratio",
        "stopword_ratio",
        "upper_ratio",
        "quality_score",
    )


def _langid_ratio_sql() -> str:
    """Per-language marker hit-rate columns over the word array `w`."""
    ratios = []
    for lang in text._MARKER_LANGS:
        markers = "[" + ", ".join(f"'{w}'" for w in text._LANG_MARKERS[lang]) + "]"
        ratios.append(
            f"len(list_filter(w, x -> list_contains({markers}, x))) * 1.0 /"
            f" greatest(len(w), 1) AS r_{lang}"
        )
    return ",\n             ".join(ratios)


def _langid_case_sql() -> str:
    """The lang_guess CASE over script regexes + r_<lang> ratio columns.
    Spark's struct-max tie-break picks the lexicographically LARGEST lang
    code among equal scores → the CASE chain tests in DESC-lex order."""
    langs = list(text._MARKER_LANGS)
    g = "greatest(" + ", ".join(f"r_{l}" for l in langs) + ")"
    tie_chain = "\n                       ".join(
        f"WHEN r_{l} = {g} THEN '{l}'"
        for l in sorted(langs, reverse=True)[:-1]
    )
    script_chain = "\n                ".join(
        f"WHEN len(regexp_extract_all(text, '{pat}')) > 0 THEN '{lang}'"
        for lang, pat in text._SCRIPT_LANGS
    )
    last = sorted(langs)[0]
    return f"""CASE {script_chain}
                WHEN {g} > 0 THEN
                  CASE {tie_chain}
                       ELSE '{last}' END
                ELSE 'und' END"""


def _langid_oracle() -> str:
    return f"""
    WITH words AS (
      SELECT doc_id, text,
             list_transform(regexp_split_to_array(trim(text), '\\s+'),
                            x -> lower(x)) AS w
      FROM documents
    ), scored AS (
      SELECT doc_id, text,
             {_langid_ratio_sql()}
      FROM words
    )
    SELECT doc_id,
           {_langid_case_sql()} AS lang_guess
    FROM scored
    """


@_q(
    "text_langid",
    _langid_oracle(),
    doc="Heuristic language ID: marker-word hit rate + CJK script detection",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the per-language marker-ratio HOFs + script regexes are the
    # heaviest per-row map work in the family — the A/B at sf0.1 measured
    # 0.25x (4x) with the scan spread over the cores (guide §2.5)
    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", text.lang_id("text").alias("lang_guess"))


@_q(
    "text_tokens",
    r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_ish_tokens
    FROM documents
    """,
    doc="Token counting: whitespace + BPE-ish regex pre-tokenization",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: regex pre-tokenization per row (A/B at sf0.1: 0.84x)
    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id",
        text.whitespace_token_count("text").cast("long").alias("ws_tokens"),
        text.bpe_ish_token_count("text").cast("long").alias("bpe_ish_tokens"),
    )


@_q(
    "text_fingerprint",
    r"""
    SELECT doc_id,
           sha256(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
                                      '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    doc="Normalization-stable document fingerprint (lower/strip/collapse + SHA-256)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


def _doc_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("asset_id"),
        F.lit("audio").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("audio/wav").alias("mime_type"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("n_chars") / 100.0).alias("duration_s"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )


@_q(
    "mm_frame_sample_plan",
    """
    SELECT 'doc-' || doc_id AS asset_id,
           CAST(i AS INTEGER) AS frame_idx,
           round(i * 2.0, 3) AS frame_ts
    FROM (
      SELECT doc_id,
             unnest(range(0,
               CAST(greatest(floor((n_chars / 100.0) / 2.0), 1) AS BIGINT))) AS i
      FROM documents)
    """,
    doc="Multimodal: video frame-sampling plan (explode vs generate_series)",
)
def mm_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import multimodal

    assets = _doc_assets(spark, sf_dir)
    return multimodal.frame_sample_plan(assets, every_s=2.0).select(
        "asset_id", "frame_idx", F.round("frame_ts", 3).alias("frame_ts")
    )


@_q(
    "mm_resize_plan",
    """
    SELECT 'doc-' || doc_id AS asset_id, w AS width, h AS height,
           CAST(ceil(w * least(512.0 / greatest(w, h), 1.0)) AS INTEGER) AS target_width,
           CAST(ceil(h * least(512.0 / greatest(w, h), 1.0)) AS INTEGER) AS target_height
    FROM (SELECT doc_id,
                 CAST(200 + (doc_id * 37) % 1800 AS INTEGER) AS w,
                 CAST(200 + (doc_id * 53) % 1200 AS INTEGER) AS h
          FROM documents)
    """,
    doc="Multimodal: aspect-preserving resize plan (pure column math)",
)
def mm_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    assets = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("asset_id"),
        (200 + (F.col("doc_id") * 37) % 1800).cast("int").alias("width"),
        (200 + (F.col("doc_id") * 53) % 1200).cast("int").alias("height"),
    )
    return multimodal.resize_plan(assets, max_side=512).select(
        "asset_id", "width", "height", "target_width", "target_height"
    )


@_q(
    "mm_feature_extract",
    """
    SELECT 'doc-' || doc_id AS asset_id,
           CAST(strlen(text) AS INT) AS byte_len,
           round(CAST(len(list_filter(string_split(text, ''),
                                      c -> ascii(c) // 32 = 0)) AS DOUBLE)
                 / greatest(strlen(text), 1), 6) AS f0,
           round(CAST(len(list_filter(string_split(text, ''),
                                      c -> ascii(c) // 32 = 3)) AS DOUBLE)
                 / greatest(strlen(text), 1), 6) AS f3,
           '' AS decode_error
    FROM documents
    """,
    doc="Multimodal: Arrow-batched decode/feature extraction. The fake "
    "decoder's byte-histogram IS SQL-expressible because the synthesized "
    "payloads are utf-8 of pure-ASCII text (verified at every SF: strlen == "
    "length), so byte buckets == codepoint//32 — upgrading this entry from "
    "rows-only to a full value-hash oracle over the mapInPandas path",
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import multimodal

    assets = _doc_assets(spark, sf_dir)
    feats = multimodal.extract_features(assets, decoder=multimodal.fake_decoder)
    return feats.select(
        "asset_id",
        "byte_len",
        F.round(F.element_at("feature", 1), 6).alias("f0"),
        F.round(F.element_at("feature", 4), 6).alias("f3"),
        # '' instead of NULL: all-None object columns break pandas-sorting
        # canonicalizers (the a5 lesson)
        F.coalesce("decode_error", F.lit("")).alias("decode_error"),
    )


def _curation_oracle() -> str:
    qscore = """round(CAST((CASE WHEN n_words_raw >= 5 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN n_stop * 1.0 / greatest(n_words_raw, 1) BETWEEN 0.05 AND 0.6 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN n_punct * 1.0 / greatest(n_chars_raw, 1) < 0.2 THEN 0.25 ELSE 0.0 END)
               + (CASE WHEN (n_chars_raw - (n_words_raw - 1)) * 1.0 / n_words_raw BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END)
               AS DOUBLE), 2)"""
    return f"""
    WITH words AS (
      SELECT doc_id, text,
             list_transform(regexp_split_to_array(trim(text), '\\s+'),
                            x -> lower(x)) AS w,
             length(text) AS n_chars_raw,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_words_raw,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 x -> list_contains({_STOP_SQL}, lower(x)))) AS n_stop
      FROM documents
    ), scored AS (
      SELECT doc_id, text, n_words_raw,
             {qscore} AS quality_score,
             {_langid_ratio_sql()}
      FROM words
    ), judged AS (
      SELECT doc_id, n_words_raw, quality_score,
             {_langid_case_sql()} AS lang_guess,
             row_number() OVER (
               PARTITION BY sha256(trim(regexp_replace(
                 regexp_replace(lower(text), '[^\\w\\s]', '', 'g'), '\\s+', ' ', 'g')))
               ORDER BY doc_id) AS rn
      FROM scored
    )
    SELECT doc_id, lang_guess, quality_score,
           CASE WHEN n_words_raw < 5 THEN 'too_short'
                WHEN quality_score < 0.75 THEN 'low_quality'
                WHEN lang_guess <> 'en' THEN 'language'
                WHEN rn > 1 THEN 'duplicate'
                ELSE '' END AS reject_reason,
           (CASE WHEN n_words_raw < 5 THEN 'too_short'
                 WHEN quality_score < 0.75 THEN 'low_quality'
                 WHEN lang_guess <> 'en' THEN 'language'
                 WHEN rn > 1 THEN 'duplicate'
                 ELSE NULL END) IS NULL AS keep
    FROM judged
    """


@_q(
    "pipeline_curation",
    _curation_oracle(),
    doc="End-to-end curation funnel: quality -> langid -> fingerprint "
    "first-wins dedup -> keep/reject with precedence-ordered reasons "
    "(one scan + one fingerprint shuffle)",
)
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = text.curate_documents(
        docs, "doc_id", "text", min_words=5, min_quality=0.75,
        allowed_langs=("en",),
    )
    # Kept rows report '' instead of NULL: mixed None/str cells break
    # pandas-sorting canonicalizers (the a5 lesson). The operator itself
    # keeps the NULL-means-kept API.
    return out.withColumn(
        "reject_reason", F.coalesce("reject_reason", F.lit(""))
    )


@_q(
    "curation_stratified_sample",
    """
    SELECT lang, doc_id, sample_rank FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 25
    """,
    doc="Deterministic per-stratum downsample: smallest-md5(id) rows per "
    "lang — a reproducible, engine-agnostic training subsample (one shuffle "
    "on the stratum key + WindowGroupLimit top-n)",
)
def curation_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    return text.stratified_sample(docs, "lang", "doc_id", n_per_stratum=25)


@_q(
    "doc_repetition_score",
    """
    SELECT doc_id,
           round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams),
                 6) AS rep3
    FROM (
      SELECT doc_id,
             list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
             ) AS grams
      FROM documents
    )
    WHERE len(grams) > 0
    """,
    doc="Intra-document repetition (Gopher-style filter signal): fraction of "
    "duplicated word 3-grams per doc — pure Catalyst, per-row, scan speed",
)
def doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the O(n_words) gram-fold HOF per row is pure map-side
    # compute (A/B at sf0.1: 0.70x)
    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select("doc_id", text.repetition_score("text", n=3).alias("rep3"))
        .filter(F.col("rep3").isNotNull())
    )


@_q(
    "curation_decontaminate",
    """
    WITH grams AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 4),
               i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
             )) AS gram
      FROM documents),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 5),
    hits AS (SELECT DISTINCT doc_id FROM grams
             WHERE gram IN (SELECT gram FROM bench))
    SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    headline=True,
    doc="Benchmark decontamination: flag docs sharing any word 5-gram with "
    "the benchmark set (docs 0-4) — broadcast semi join on grams; the "
    "corpus never shuffles",
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 5)
    return text.decontaminate(docs, bench, "doc_id", "text", n=5)


@_q(
    "text_top_words",
    """
    SELECT word, n, df FROM (
      SELECT word, count(*) AS n, count(DISTINCT doc_id) AS df,
             row_number() OVER (ORDER BY count(*) DESC, word) AS rk
      FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents)
      WHERE word <> ''
      GROUP BY word) v
    WHERE rk <= 20
    """,
    doc="Vocabulary building: corpus-wide top-20 words by term frequency "
    "with document frequency — explode (narrow) then one word-keyed shuffle "
    "with map-side partial aggregation, then TakeOrdered top-k; the shape "
    "behind tokenizer-vocab and stopword-list construction at corpus scale",
)
def text_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    counts = words.groupBy("word").agg(
        F.count("*").alias("n"), F.count_distinct("doc_id").alias("df")
    )
    from lakehouse_spark.operators import sorts

    return sorts.top_n(counts, [F.desc("n"), F.asc("word")], 20).select(
        "word", "n", "df"
    )


@_q(
    "text_tfidf_top_term",
    """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf
      FROM words WHERE word <> '' GROUP BY doc_id, word
    ), df AS (
      SELECT word, count(DISTINCT doc_id) AS df FROM words
      WHERE word <> '' GROUP BY word
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, word AS top_term,
           round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
    FROM (
      SELECT t.doc_id, t.word, t.tf, d.df, n.n_docs,
             row_number() OVER (
               PARTITION BY t.doc_id
               ORDER BY t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) DESC, t.word
             ) AS rk
      FROM tf t JOIN df d USING (word) CROSS JOIN n)
    WHERE rk = 1
    """,
    doc="TF-IDF featurization: each document's highest-scoring term "
    "(tf * ln(N/df), term-asc tie-break). Two shuffles — (doc, word) tf and "
    "word df — then a broadcast of the df side back onto tf; the standard "
    "sparse-featurization shape at corpus scale",
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar, the oracle's CROSS JOIN n
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.col("word") != "")
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_ = words.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df_), "word").withColumn(
        "tfidf", F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("word").alias("top_term"),
            F.round("tfidf", 6).alias("tfidf"),
        )
    )


@_q(
    "profile_documents",
    """
    SELECT 'doc_id' AS col, count(doc_id) AS n_nonnull,
           count(DISTINCT doc_id) AS n_distinct FROM documents
    UNION ALL
    SELECT 'lang', count(lang), count(DISTINCT lang) FROM documents
    UNION ALL
    SELECT 'source', count(source), count(DISTINCT source) FROM documents
    UNION ALL
    SELECT 'n_chars', count(n_chars), count(DISTINCT n_chars) FROM documents
    """,
    doc="Data profiling: per-column non-null + exact distinct counts in ONE "
    "pass (Spark side aggregates all columns together, then unpivots — the "
    "oracle's 4-scan UNION is the semantic spec, not the plan)",
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source", "n_chars"]
    agg = docs.agg(
        *[F.count(c).alias(f"nn_{c}") for c in cols],
        *[F.count_distinct(c).alias(f"nd_{c}") for c in cols],
    )
    stack = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return agg.select(
        F.expr(
            f"stack({len(cols)}, {stack}) AS (col, n_nonnull, n_distinct)"
        )
    )




@_q(
    "doc_chunks_overlap",
    """
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n
      FROM documents
    ), s AS (
      SELECT doc_id, w,
             unnest(generate_series(1, greatest(n, 1), 24)) AS st
      FROM w WHERE n > 0
    )
    SELECT doc_id,
           CAST((st - 1) // 24 AS INTEGER) AS chunk_id,
           CAST(len(w[st:st+31]) AS INTEGER) AS n_tokens,
           sha256(array_to_string(w[st:st+31], ' ')) AS chunk_fp
    FROM s
    """,
    doc="Embedding-pipeline chunker: overlapping 32-word windows every 24 "
    "words (posexplode of sequence starts — pure Catalyst, no UDF; the "
    "fan-out happens after pushed filters). Chunk text is fingerprinted "
    "so the oracle compares content without shipping it",
)
def doc_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.chunk_words(docs, "doc_id", "text", size=32, stride=24).select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.sha2("chunk_text", 256).alias("chunk_fp"),
    )


@_q(
    "pii_redaction",
    """
    WITH synth AS (
      SELECT doc_id,
             text ||
             (CASE WHEN doc_id % 2 = 0
                   THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                   ELSE '' END) ||
             (CASE WHEN doc_id % 3 = 0 THEN ' call 555-123-4567 ok' ELSE '' END) ||
             (CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789 end' ELSE '' END)
               AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS INTEGER) AS n_phone,
           CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS INTEGER) AS n_ssn,
           sha256(
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g'),
                 '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '[PHONE]', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g')
           ) AS redacted_fp
    FROM synth
    """,
    doc="PII detection + redaction over synthesized contact strings (the "
    "corpus itself is clean): regexp_extract_all counts per kind and "
    "chained regexp_replace redaction, most-specific pattern first — "
    "scan-speed Catalyst, RE2-safe patterns so DuckDB mirrors exactly",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" mail user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" call 555-123-4567 ok")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789 end")
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    counts = text.pii_counts("t")
    return synth.select(
        "doc_id",
        counts["email"].cast("int").alias("n_email"),
        counts["phone"].cast("int").alias("n_phone"),
        counts["ssn"].cast("int").alias("n_ssn"),
        F.sha2(text.redact_pii("t"), 256).alias("redacted_fp"),
    )


@_q(
    "curation_train_split",
    """
    WITH b AS (
      SELECT n_chars,
             ((CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) % 10) + 10) % 10 AS bucket
      FROM documents)
    SELECT CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM b GROUP BY 1
    """,
    doc="Deterministic 80/10/10 dataset split: md5-derived hash bucket per "
    "doc id — order-independent, repartition-stable, reproducible across "
    "engines and re-runs (random() splits are none of these). No shuffle "
    "until the 3-row summary",
)
def curation_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        text.hash_split(docs, "doc_id", {"train": 8, "val": 1, "test": 1})
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


@_q(
    "curation_quality_resample",
    """
    SELECT doc_id, n_chars
    FROM documents
    WHERE (((CAST('0x' || substr(md5('ds:' || CAST(doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) % 1000000) + 1000000) % 1000000) / 1000000.0
          < least(1.0, n_chars / 400.0)
    """,
    doc="Importance resampling: keep probability proportional to a per-doc "
    "score (here length-based), decided by an md5-derived hash of the id — "
    "deterministic, reproducible, repartition-stable; the SAME ids survive "
    "every run, unlike rand() sampling. Scan-speed filter, no shuffle",
)
def curation_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    prob = F.least(F.lit(1.0), F.col("n_chars") / 400.0)
    return text.deterministic_sample(docs, "doc_id", prob, salt="ds").select(
        "doc_id", "n_chars"
    )


@_q(
    "curation_source_mix",
    """
    WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
    m AS (SELECT min(n) AS mn FROM c),
    r AS (SELECT source, least(1.0, (SELECT mn * 1.0 FROM m) / n) AS rate
          FROM c)
    SELECT doc_id, source
    FROM documents d JOIN r USING (source)
    WHERE (((CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)
             AS BIGINT) % 1000000) + 1000000) % 1000000) / 1000000.0 < rate
    """,
    doc="Data mixing: re-balance the corpus to equal shares per source — "
    "per-source acceptance rates from one tiny count aggregate (the "
    "binding source keeps 100%), then the deterministic hash filter at "
    "scan speed; the corpus never shuffles",
)
def curation_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.mix_sources(docs, "source", "doc_id", salt="mix").select(
        "doc_id", "source"
    )


@_q(
    "pack_training_sequences",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents)
    SELECT doc_id, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS start_offset,
           CAST((coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
                // 512 AS BIGINT) AS bin_id,
           ((coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + n_tokens - 1) // 512)
           > ((coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
              // 512) AS crosses_boundary
    FROM t
    """,
    doc="Sequence packing for training windows (concat-then-chunk): docs "
    "laid end-to-end in id order, sliced into 512-token bins; per-doc "
    "start offset, bin id, boundary-crossing flag. The global running sum "
    "is the two-phase distributed index — the only partition-less window "
    "runs over the tiny per-bucket table, never the data",
)
def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", text.whitespace_token_count("text").cast("long").alias("n_tokens")
    )
    return text.pack_sequences(docs, "doc_id", "n_tokens", capacity=512)


@_q(
    "mm_frame_sample",
    """
    WITH a AS (
      SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS asset_id,
             'audio' AS kind,
             n_chars / 100.0 AS duration_s
      FROM documents),
    n AS (SELECT asset_id, kind,
                 greatest(CAST(floor(duration_s / 1.0) AS INTEGER), 1) AS nf
          FROM a)
    SELECT asset_id, kind,
           CAST(i AS INTEGER) AS frame_idx,
           round(i * 1.0, 3) AS frame_ts
    FROM n, unnest(generate_series(0, nf - 1)) AS t(i)
    """,
    doc="Media frame/window sampling plan: one row per (asset, frame_ts) at "
    "1 s spacing from the duration metadata — posexplode of a generated "
    "sequence, decode-free (the real decoder plugs into extract_features). "
    "Short assets yield exactly one frame",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import multimodal

    assets = _doc_assets(spark, sf_dir)
    return multimodal.frame_sample_plan(assets, every_s=1.0).select(
        "asset_id",
        "kind",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        "frame_ts",
    )


@_q(
    "mm_resize",
    """
    WITH a AS (
      SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS asset_id,
             CAST(200 + doc_id % 1800 AS INTEGER) AS width,
             CAST(150 + (doc_id * 7) % 1200 AS INTEGER) AS height
      FROM documents)
    SELECT asset_id, width, height,
           CAST(ceil(width * least(512.0 / greatest(width, height), 1.0))
                AS INTEGER) AS target_width,
           CAST(ceil(height * least(512.0 / greatest(width, height), 1.0))
                AS INTEGER) AS target_height
    FROM a
    """,
    doc="Image resize plan: aspect-preserving target dimensions capped at "
    "512 px, never upscaling — pure column math over synthesized image "
    "metadata (the pixel work happens in the injected decoder)",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import multimodal

    docs = _t(spark, sf_dir, "documents")
    assets = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("asset_id"),
        (200 + F.col("doc_id") % 1800).cast("int").alias("width"),
        (150 + (F.col("doc_id") * 7) % 1200).cast("int").alias("height"),
    )
    return multimodal.resize_plan(assets, max_side=512)


@_q(
    "text_gopher_rules",
    """
    WITH feats AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS w,
             length(text) - length(replace(text, '#', '')) AS hash_cnt,
             (length(text) - length(replace(text, '...', ''))) / 3 AS ell_cnt,
             text
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             round(list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w), 4)
               AS mean_word_len,
             round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                   * 1.0 / len(w), 4) AS frac_alpha_words,
             round((hash_cnt + ell_cnt) * 1.0 / len(w), 4) AS symbol_ratio,
             CAST(len(list_filter(['the','a','and','of','to','in','is','for'],
                                  s -> list_contains(w, s))) AS BIGINT)
               AS stop_hits
      FROM feats
    )
    SELECT *,
           (n_words BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND frac_alpha_words >= 0.8
            AND symbol_ratio < 0.1
            AND stop_hits >= 2) AS gopher_pass
    FROM m
    """,
    doc=(
        "Gopher quality rule set (Rae et al. 2021 A1.1.2): word-count "
        "bounds, mean word length, alpha-word fraction, symbol ratio, "
        "stopword presence — pure Catalyst HOFs, per-row at scan speed."
    ),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text.gopher_rules(docs, "doc_id", "text")


@_q(
    "text_unigram_logprob",
    """
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents
    ), vocab AS (
      SELECT w, count(*) AS cnt FROM tok GROUP BY w
    ), tot AS (
      SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(CAST(round(-ln(cnt / t) * 1000000) AS BIGINT))
                 / (1000000.0 * count(*)), 4) AS avg_nll
    FROM tok JOIN vocab USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc=(
        "Unigram LM scoring: corpus-learned word log-probs, per-doc mean "
        "negative log-likelihood (the cheap perplexity proxy used for "
        "quality filtering, e.g. CCNet). Vocab is Zipf-bounded so it "
        "broadcasts; the corpus shuffles only for the per-doc mean. "
        "Per-token NLL snapped to a 1e-6 grid and summed as int64 so the "
        "mean is order-independent (see _ssum_sql)."
    ),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w")
    )
    vocab = tok.groupBy("w").agg(F.count("*").alias("cnt"))
    total = float(vocab.agg(F.sum("cnt")).collect()[0][0])
    scored = tok.join(F.broadcast(vocab), "w")
    nll_grid = F.round(
        -F.log(F.col("cnt") / F.lit(total)) * 1_000_000
    ).cast("long")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(
            F.sum(nll_grid) / (F.lit(1_000_000.0) * F.count("*")), 4
        ).alias("avg_nll"),
    )


@_q(
    "curation_dsir_weights",
    """
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents
    ), vocab AS (
      SELECT w, count(*) AS raw_cnt,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt_cnt
      FROM tok GROUP BY w
    ), tot AS (
      SELECT CAST(sum(raw_cnt) AS DOUBLE) AS raw_tot,
             CAST(sum(tgt_cnt) AS DOUBLE) AS tgt_tot,
             CAST(count(*) AS DOUBLE) AS v
      FROM vocab
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           sum(CAST(floor(
                 (ln((tgt_cnt + 1) / (tgt_tot + v))
                  - ln((raw_cnt + 1) / (raw_tot + v))) * 1000000 + 0.5)
               AS BIGINT)) / 1000000.0 AS dsir_logweight
    FROM tok JOIN vocab USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc=(
        "DSIR importance weights (Xie et al. 2023, Data Selection via "
        "Importance Resampling): per-doc log importance = sum over tokens "
        "of log p_target(w) - log p_raw(w), with the target distribution "
        "learned from the lang='en' slice and add-one smoothing over the "
        "shared vocab. Rank by weight + Gumbel noise to resample a "
        "target-like corpus from raw data. Vocab is Zipf-bounded so it "
        "broadcasts (the corpus never reshuffles to score); per-token log "
        "terms snap to a 1e-6 grid via floor(x+0.5) and sum as int64 so "
        "the weight is order- and engine-independent."
    ),
)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("w"),
        (F.col("lang") == "en").cast("long").alias("is_tgt"),
    )
    vocab = tok.groupBy("w").agg(
        F.count("*").alias("raw_cnt"), F.sum("is_tgt").alias("tgt_cnt")
    )
    raw_tot, tgt_tot, v = vocab.agg(
        F.sum("raw_cnt"), F.sum("tgt_cnt"), F.count("*")
    ).collect()[0]
    scored = tok.drop("is_tgt").join(F.broadcast(vocab), "w")
    term = F.log(
        (F.col("tgt_cnt") + 1) / F.lit(float(tgt_tot) + float(v))
    ) - F.log((F.col("raw_cnt") + 1) / F.lit(float(raw_tot) + float(v)))
    grid = F.floor(term * 1_000_000 + F.lit(0.5)).cast("long")
    # No round() on top of the grid: the ppm sum is already exact int64,
    # and round(x, 4) is an engine-dependent trap when the quotient's
    # shortest decimal repr lands on a half (Spark HALF_UPs the repr,
    # DuckDB rounds the true double — they disagree at e.g. -0.16065).
    # sum/1e6 is one correctly-rounded division, identical on both.
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        (F.sum(grid) / 1_000_000.0).alias("dsir_logweight"),
    )


@_q(
    "curation_weighted_sample",
    """
    WITH scored AS (
      SELECT doc_id, n_chars,
             ln((CAST('0x' || substr(md5(concat('s11:',
                    CAST(doc_id AS VARCHAR))), 1, 15) AS BIGINT) + 1)
                / 1152921504606846976.0) / n_chars AS es_key
      FROM documents
    )
    SELECT doc_id, n_chars FROM scored
    ORDER BY es_key DESC, doc_id LIMIT 100
    """,
    doc=(
        "Weighted sampling without replacement (Efraimidis-Spirakis A-ES): "
        "key = ln(u)/weight, top-k by key. u comes from the cross-engine "
        "md5 hash so the sample is reproducible; the plan is "
        "TakeOrderedAndProject (per-partition heaps), not a global sort."
    ),
)
def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return text.weighted_sample(docs, "doc_id", "n_chars", k=100, seed=11)


@_q(
    "skew_salted_join",
    f"""
    SELECT concat('flag_', l_returnflag) AS flag_label,
           {_ssum_sql("l_extendedprice")} AS revenue,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1
    """,
    doc=(
        "Salted broadcast join under extreme key skew (3 distinct keys over "
        "the whole fact table): the dim replicates across 16 salt ids so a "
        "hot key spreads over 16 tasks; result must equal the unsalted "
        "join + group-by exactly."
    ),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import skew

    li = _t(spark, sf_dir, "lineitem")
    dim = (
        li.select("l_returnflag")
        .distinct()
        .withColumn("flag_label", F.concat(F.lit("flag_"), F.col("l_returnflag")))
    )
    joined = skew.salted_broadcast_join(li, dim, "l_returnflag")
    return joined.groupBy("flag_label").agg(
        F.expr(_ssum_sql("l_extendedprice")).alias("revenue"),
        F.count("*").alias("n"),
    )


@_q(
    "skew_adaptive_join",
    """
    SELECT lang AS k,
           CAST(sum(d.n_chars) AS BIGINT) AS chars,
           CAST(count(*) AS BIGINT) AS n
    FROM documents d JOIN (SELECT DISTINCT lang FROM documents) x
      USING (lang)
    GROUP BY 1
    """,
    doc=(
        "Selective skew join on a genuinely skewed key (documents.lang: "
        "'en' holds ~3-4x the average language's rows): the probe flags "
        "only 'en' as hot (hot_multiplier=1.5), salts it against a "
        "broadcast replica of just that dim row, and the other languages "
        "join plain — BOTH branches execute and union. Result equals the "
        "unsalted join exactly. Blanket salting would replicate the "
        "whole dim n_salts x."
    ),
)
def skew_adaptive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators import skew

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    dim = docs.select("lang").distinct()
    joined = skew.adaptive_skew_join(
        docs, dim, "lang", hot_multiplier=1.5, min_hot_rows=50
    )
    return joined.groupBy(F.col("lang").alias("k")).agg(
        F.sum("n_chars").alias("chars"),
        F.count("*").alias("n"),
    )


def _zorder_oracle() -> str:
    from lakehouse_spark.operators.layout import interleave_bits_sql

    z = interleave_bits_sql("l_partkey % 256", "l_suppkey % 256", 8)
    return f"""
    SELECT l_orderkey, l_linenumber, {z} AS zkey
    FROM lineitem
    ORDER BY zkey, l_orderkey, l_linenumber LIMIT 50
    """


@_q(
    "layout_zorder_key",
    _zorder_oracle(),
    doc=(
        "Z-order (Morton) clustering key: bit-interleave of two dimension "
        "keys, verified bit-for-bit against the DuckDB rendering. The "
        "write path (operators/layout.write_zordered) range-partitions by "
        "this key so 2-D box predicates prune files on both dimensions — "
        "pruning gain is asserted from parquet footer stats in "
        "tests/test_layout_zorder.py."
    ),
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_spark.operators.layout import interleave_bits

    li = _t(spark, sf_dir, "lineitem")
    z = interleave_bits(F.col("l_partkey") % 256, F.col("l_suppkey") % 256, 8)
    return (
        li.select("l_orderkey", "l_linenumber", z.alias("zkey"))
        .orderBy("zkey", "l_orderkey", "l_linenumber")
        .limit(50)
    )


@_q(
    "text_char_entropy",
    """
    WITH c AS (
      SELECT doc_id, regexp_split_to_array(text, '') AS cs FROM documents
    )
    SELECT doc_id,
           CAST(len(cs) AS BIGINT) AS n_chars,
           round(-list_sum(list_transform(list_distinct(cs),
               ch -> CAST(round(
                 (len(list_filter(cs, x -> x = ch)) * 1.0 / len(cs))
                 * log2(len(list_filter(cs, x -> x = ch)) * 1.0 / len(cs))
                 * 100000000) AS BIGINT)))
             / 100000000.0, 4) AS entropy_bits
    FROM c
    """,
    # Promoted to the headline bench in round 13 (additions-only; verdict
    # r12 #3): the text-quality family's representative — compute-dominated
    # per-char explode + two-phase aggregate, the shape that shows both the
    # compute-spread decision and core scaling.
    headline=True,
    doc=(
        "Character-level Shannon entropy per document (compressibility "
        "quality signal: gibberish and boilerplate sit at the extremes). "
        "Pure per-row HOFs — distinct chars x length work per row, no "
        "explode, no shuffle, scan speed. Each p*log2(p) term snaps to a "
        "1e-8 grid and sums as int64 so the fold order (which differs "
        "between engines' distinct implementations) cannot move the hash."
    ),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explode + two-phase aggregate instead of per-row HOF folds: the HOF
    # form is O(distinct x len) of INTERPRETED lambda calls per row (7.7 s
    # at sf0.1); exploding stays in whole-stage codegen and the map-side
    # partial combine shrinks the shuffle to ~30 (doc, char) rows per doc
    # (0.9 s, identical hash — the int-grid sum is order-independent).
    # spread: the per-char explode + map-side partial count is the cost
    # (~n_chars rows per doc before the combine); a single-split scan
    # runs it on one core (A/B at sf0.1: 0.42x, guide §2.5)
    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    chars = docs.selectExpr("doc_id", "explode(split(text, '')) as ch")
    counts = chars.groupBy("doc_id", "ch").agg(F.expr("count(*) as cnt"))
    n = "sum(cnt) OVER (PARTITION BY doc_id)"
    p = "(cnt * 1.0D / n)"
    return (
        counts.selectExpr("*", f"{n} as n")
        .selectExpr(
            "*",
            f"CAST(round({p} * log2({p}) * 100000000) AS BIGINT) as term",
        )
        .groupBy("doc_id")
        .agg(
            F.expr("CAST(max(n) AS BIGINT) as n_chars"),
            F.expr("round(-sum(term) / 100000000.0D, 4) as entropy_bits"),
        )
    )


@_q(
    "curation_contamination_matrix",
    """
    WITH grams AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 4),
               i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
             )) AS gram
      FROM documents),
    bench AS (
      SELECT 'holdout_a' AS benchmark, gram FROM grams WHERE doc_id % 97 = 0
      UNION
      SELECT 'holdout_b', gram FROM grams WHERE doc_id % 89 = 1
    ),
    members AS (
      SELECT 'holdout_a' AS benchmark, doc_id FROM documents WHERE doc_id % 97 = 0
      UNION ALL
      SELECT 'holdout_b', doc_id FROM documents WHERE doc_id % 89 = 1
    ),
    hits AS (
      SELECT DISTINCT b.benchmark, g.doc_id
      FROM grams g JOIN bench b USING (gram)
      WHERE NOT EXISTS (SELECT 1 FROM members m
                        WHERE m.benchmark = b.benchmark
                          AND m.doc_id = g.doc_id)
    )
    SELECT benchmark,
           CAST(count(*) AS BIGINT) AS n_contaminated,
           round(count(*) * 1.0 / (SELECT count(*) FROM documents), 6) AS rate
    FROM hits GROUP BY benchmark
    """,
    doc=(
        "Contamination matrix across MULTIPLE benchmarks in one pass: all "
        "benchmark 5-gram sets union into one tagged broadcast side, the "
        "training corpus's grams join it ONCE (vs one scan per benchmark), "
        "benchmark members excluded via the tagged anti condition. Per-"
        "benchmark contaminated counts + rates."
    ),
)
def curation_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(text.word_ngrams("text", 5)).alias("gram")
    )
    benches = [
        ("holdout_a", F.col("doc_id") % 97 == 0),
        ("holdout_b", F.col("doc_id") % 89 == 1),
    ]
    bench_grams = None
    members = None
    for name, cond in benches:
        bg = grams.filter(cond).select(
            F.lit(name).alias("benchmark"), "gram"
        ).distinct()
        mb = docs.filter(cond).select(F.lit(name).alias("benchmark"), "doc_id")
        bench_grams = bg if bench_grams is None else bench_grams.unionByName(bg)
        members = mb if members is None else members.unionByName(mb)
    hits = (
        grams.join(F.broadcast(bench_grams), "gram")
        .select("benchmark", "doc_id")
        .dropDuplicates(["benchmark", "doc_id"])
        .join(F.broadcast(members), ["benchmark", "doc_id"], "left_anti")
    )
    n_docs = docs.count()
    return hits.groupBy("benchmark").agg(
        F.count("*").alias("n_contaminated"),
        F.round(F.count("*") / F.lit(float(n_docs)), 6).alias("rate"),
    )


@_q(
    "curation_url_normalize",
    """
    WITH u AS (
      SELECT doc_id,
             'HTTP://Example.COM:80/Docs/' || CAST(doc_id % 50 AS VARCHAR)
               || CASE WHEN doc_id % 3 = 0 THEN '/?b=2&a=1#frag'
                       WHEN doc_id % 3 = 1 THEN '?a=1&b=2'
                       ELSE '/' END AS url
      FROM documents
    ), n AS (
      SELECT doc_id, url,
             CASE WHEN q = '' THEN base
                  ELSE base || '?' || array_to_string(list_sort(string_split(q, '&')), '&')
             END AS canonical
      FROM (
        SELECT doc_id, url,
               regexp_extract(np, '^([^?]*?)/?(?:\\?.*)?$', 1) AS base,
               regexp_extract(np, '\\?(.*)$', 1) AS q
        FROM (
          SELECT doc_id, url,
                 regexp_replace(
                   lower(regexp_extract(nf, '^([a-zA-Z]+://[^/?]*)', 1))
                     || regexp_replace(nf, '^[a-zA-Z]+://[^/?]*', ''),
                   '^(https?://[^/:?]*):(?:80|443)([/?]|$)', '\\1\\2') AS np
          FROM (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf
                FROM u) t1) t2) t3
    )
    SELECT canonical,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM n GROUP BY canonical
    """,
    doc=(
        "URL canonicalization for web-corpus dedup: lowercase scheme+host, "
        "strip default port/fragment/trailing slash, sort query params — "
        "then the exact-dedup groupBy. Mirror forms (case, param order, "
        "trailing slash) collapse to one canonical key on both engines."
    ),
)
def curation_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTP://Example.COM:80/Docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/?b=2&a=1#frag"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&b=2"))
        .otherwise(F.lit("/")),
    )
    u = docs.select("doc_id", url.alias("url"))
    return (
        u.withColumn("canonical", text.normalize_url("url"))
        .groupBy("canonical")
        .agg(
            F.count("*").alias("n_urls"),
            F.min("doc_id").alias("first_doc"),
        )
    )


@_q(
    "curation_decontaminate_bloom",
    """
    WITH grams AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 4),
               i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')
             )) AS gram
      FROM documents),
    bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 5),
    hits AS (SELECT DISTINCT doc_id FROM grams
             WHERE gram IN (SELECT gram FROM bench))
    SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
    doc=(
        "Bloom-prescreened decontamination: a 16 KiB bit-array literal "
        "replaces broadcasting the full benchmark gram set (the thing that "
        "stops fitting at 100 TB); survivors verify against the exact set. "
        "No false negatives + exact verify = byte-identical to the plain "
        "semi-join decontamination — the oracle IS the plain form."
    ),
)
def curation_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 5)
    return text.bloom_decontaminate(docs, bench, "doc_id", "text", n=5)


@_q(
    "pii_redaction_extended",
    r"""
    WITH synth AS (
      SELECT doc_id,
             text ||
             (CASE WHEN doc_id % 2 = 0
                   THEN ' card 4111-1111-1111-1111 used' ELSE '' END) ||
             (CASE WHEN doc_id % 3 = 0
                   THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.7 host' ELSE '' END) ||
             (CASE WHEN doc_id % 7 = 0 THEN ' build v1.2.3 tag' ELSE '' END)
               AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '\b\d{4}[- ]\d{4}[- ]\d{4}(?:[- ]\d{4})?\b')) AS INTEGER)
             AS n_card,
           CAST(len(regexp_extract_all(t,
             '\b(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(?:\.(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}\b'))
             AS INTEGER) AS n_ipv4,
           sha256(
             regexp_replace(
               regexp_replace(t,
                 '\b\d{4}[- ]\d{4}[- ]\d{4}(?:[- ]\d{4})?\b', '[CARD]', 'g'),
               '\b(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)(?:\.(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}\b',
               '[IPV4]', 'g')
           ) AS redacted_fp
    FROM synth
    """,
    doc=(
        "Extended PII pass: payment-card and IPv4 detectors (octet-bounded "
        "so 'v1.2.3' version strings don't false-positive) over synthesized "
        "contact strings, counts + redaction fingerprint — same RE2-safe "
        "chained-replace shape as the core pii_redaction entry."
    ),
)
def pii_redaction_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit(" card 4111-1111-1111-1111 used")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" from 192.168."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7 host"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" build v1.2.3 tag")).otherwise(
                F.lit("")
            ),
        ).alias("t"),
    )
    counts = text.pii_counts("t", text.PII_PATTERNS_EXTENDED)
    red = text.redact_pii(
        "t", text.PII_PATTERNS_EXTENDED, ("card", "ipv4")
    )
    return synth.select(
        "doc_id",
        counts["card"].alias("n_card"),
        counts["ipv4"].alias("n_ipv4"),
        F.sha2(red, 256).alias("redacted_fp"),
    )


@_q(
    "text_bigram_logprob",
    """
    WITH words AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      FROM documents
    ), bg AS (
      SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      FROM words, unnest(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    ), c12 AS (
      SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, count(*) AS n1 FROM bg GROUP BY w1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(CAST(round(-ln(n12 * 1.0 / n1) * 1000000) AS BIGINT))
                 / (1000000.0 * count(*)), 4) AS avg_bigram_nll
    FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
    GROUP BY doc_id
    """,
    doc=(
        "Bigram LM scoring: corpus-learned conditional probabilities "
        "p(w2|w1) = c(w1,w2)/c(w1), per-doc mean NLL on the 1e-6 int grid "
        "(order-independent, see text_unigram_logprob). Both count tables "
        "are Zipf-bounded and broadcast; the corpus shuffles once for the "
        "per-doc mean — the natural next rung above the unigram proxy."
    ),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "w1"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.withColumn("w2", F.lead("w1").over(w)).filter(
        F.col("w2").isNotNull()
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n12"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("n1"))
    scored = bg.join(F.broadcast(c12), ["w1", "w2"]).join(
        F.broadcast(c1), "w1"
    )
    nll = F.round(
        -F.log(F.col("n12") * F.lit(1.0) / F.col("n1")) * 1_000_000
    ).cast("long")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.sum(nll) / (F.lit(1_000_000.0) * F.count("*")), 4).alias(
            "avg_bigram_nll"
        ),
    )


@_q(
    "text_collocations_pmi",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), bi AS (
      SELECT p[1] AS w1, p[2] AS w2 FROM (
        SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p
        FROM toks WHERE len(l) >= 2)
      WHERE p[1] <> '' AND p[2] <> ''
    ), uni AS (
      SELECT w, count(*) AS c FROM (
        SELECT unnest(l) AS w FROM toks) WHERE w <> '' GROUP BY w
    ), bc AS (
      SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
    ), n AS (SELECT count(*) AS n_tok FROM (
        SELECT unnest(l) AS w FROM toks) WHERE w <> '')
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           round(ln(CAST(c12 AS DOUBLE) * n.n_tok / (u1.c * u2.c)), 6)
             AS pmi
    FROM bc JOIN uni u1 ON u1.w = bc.w1
            JOIN uni u2 ON u2.w = bc.w2
            CROSS JOIN n
    WHERE c12 >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
    doc=(
        "Collocation mining: top-20 adjacent-word bigrams by pointwise "
        "mutual information, ln(c12 * N / (c1 * c2)), min support 5 — the "
        "phrase-detection pass (new_york, machine_learning) a tokenizer "
        "pipeline runs before vocabulary building. Shape: bigrams come "
        "from zipping each doc's token array with its own tail (narrow, "
        "no window over the corpus); one (w1,w2)-keyed shuffle for bigram "
        "counts, one w-keyed shuffle for unigrams, unigram counts joined "
        "back twice; support-filtered BEFORE the joins so only the "
        "surviving bigram relation moves. TakeOrdered top-k, (w1,w2) "
        "tie-breaks."
    ),
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", " ").alias("l"))
    pairs = toks.filter(F.size("l") >= 2).select(
        F.explode(
            F.arrays_zip(
                F.slice("l", 1, F.size("l") - 1),
                F.slice(F.col("l"), F.lit(2), F.size("l") - 1),
            )
        ).alias("p")
    ).select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2")).filter(
        (F.col("w1") != "") & (F.col("w2") != "")
    )
    words = toks.select(F.explode("l").alias("w")).filter(F.col("w") != "")
    n_tok = words.count()
    uni = words.groupBy("w").agg(F.count("*").alias("c"))
    bc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= 5)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            F.col("c12").cast("double") * F.lit(n_tok)
            / (F.col("c1") * F.col("c2"))
        ),
        6,
    )
    from lakehouse_spark.operators import sorts

    scored = (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .select("w1", "w2", F.col("c12").cast("long").alias("c12"),
                pmi.alias("pmi"))
    )
    return sorts.top_n(
        scored, [F.desc("pmi"), F.asc("w1"), F.asc("w2")], 20
    ).select("w1", "w2", "c12", "pmi")


@_q(
    "curation_filter_funnel",
    """
    WITH feats AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS w,
             length(text) - length(replace(text, '#', '')) AS hash_cnt,
             (length(text) - length(replace(text, '...', ''))) / 3 AS ell_cnt,
             text
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             round(list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w), 4)
               AS mean_word_len,
             round(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
                   * 1.0 / len(w), 4) AS frac_alpha_words,
             round((hash_cnt + ell_cnt) * 1.0 / len(w), 4) AS symbol_ratio,
             CAST(len(list_filter(['the','a','and','of','to','in','is','for'],
                                  s -> list_contains(w, s))) AS BIGINT)
               AS stop_hits
      FROM feats
    ), attributed AS (
      SELECT CASE
        WHEN n_words NOT BETWEEN 50 AND 100000 THEN 'n_words'
        WHEN mean_word_len NOT BETWEEN 3.0 AND 10.0 THEN 'mean_word_len'
        WHEN frac_alpha_words < 0.8 THEN 'frac_alpha_words'
        WHEN symbol_ratio >= 0.1 THEN 'symbol_ratio'
        WHEN stop_hits < 2 THEN 'stop_hits'
        ELSE 'pass' END AS rule
      FROM m
    ), stages(stage, rule) AS (
      VALUES (0, 'n_words'), (1, 'mean_word_len'), (2, 'frac_alpha_words'),
             (3, 'symbol_ratio'), (4, 'stop_hits'), (5, 'pass')
    )
    SELECT s.stage, s.rule,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_docs
    FROM stages s LEFT JOIN (
      SELECT rule, count(*) AS n FROM attributed GROUP BY rule) c
      ON s.rule = c.rule
    """,
    doc="Pipeline observability: the quality-filter FUNNEL — per Gopher "
    "rule (fixed order), how many docs that rule removed among those "
    "surviving every earlier rule, plus the final pass count. The report "
    "a curation run ships next to its output so a threshold change is "
    "attributable to the stage that caused it. One scan + one 6-row "
    "groupBy; the stage table is a broadcast literal",
)
def curation_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feats = text.gopher_rules(docs, "doc_id", "text")
    rule = (
        F.when(~F.col("n_words").between(50, 100000), "n_words")
        .when(~F.col("mean_word_len").between(3.0, 10.0), "mean_word_len")
        .when(F.col("frac_alpha_words") < 0.8, "frac_alpha_words")
        .when(F.col("symbol_ratio") >= 0.1, "symbol_ratio")
        .when(F.col("stop_hits") < 2, "stop_hits")
        .otherwise("pass")
    )
    counts = feats.groupBy(rule.alias("rule")).agg(F.count("*").alias("n"))
    stages = spark.createDataFrame(
        [
            (0, "n_words"),
            (1, "mean_word_len"),
            (2, "frac_alpha_words"),
            (3, "symbol_ratio"),
            (4, "stop_hits"),
            (5, "pass"),
        ],
        "stage int, rule string",
    )
    return stages.join(counts, "rule", "left").select(
        "stage",
        "rule",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_docs"),
    )

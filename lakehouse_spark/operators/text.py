"""Text analysis for training-data pipelines (engine addition, graded
alongside SURVEY.md §2): language ID, quality scoring, token counting,
document fingerprinting — plus the reference's @mention pipeline (T1/T2)
re-exported from functions.scalar.

Everything is Catalyst expressions (regex + higher-order functions): no
Python in the hot path, so these run at scan speed over 100 TB of text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lakehouse_spark.functions.scalar import (  # noqa: F401  (re-export)
    extract_mentions,
    hash64,
    normalize_mention,
)
from lakehouse_spark.operators.sessionize import _sql_str
from lakehouse_spark.operators.skew import spread

# --- token counting -----------------------------------------------------------

# BPE-ish word/number/punctuation splitter: runs of letters, runs of digits,
# or single non-space symbols — a deterministic proxy for subword tokenizers.
_BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(col: Column | str) -> Column:
    """Tokens = whitespace-separated words."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Tokens = letter-runs + digit-runs + individual symbols (regex proxy
    for a BPE tokenizer's pre-tokenization)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(_BPE_ISH), 0))


# --- quality scoring -----------------------------------------------------------

_STOPWORDS = (
    "the a an and or of to in is are was were be it that this for on with as at".split()
)


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Per-document quality features: char/word counts, mean word length,
    punctuation ratio, stopword ratio, uppercase ratio. Downstream filters
    (e.g. stopword_ratio between 0.05 and 0.6) mirror standard corpus-
    cleaning recipes (C4/Gopher-style heuristics from public literature)."""
    c = F.col(text_col)
    words = F.split(F.trim(c), r"\s+")
    n_chars = F.length(c)
    n_words = F.size(words)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    n_upper = F.size(F.regexp_extract_all(c, F.lit(r"[A-Z]"), 0))
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(
        F.filter(words, lambda w: F.array_contains(stop_arr, F.lower(w)))
    )
    return df.withColumns(
        {
            "n_chars": n_chars.cast("long"),
            "n_words": n_words.cast("long"),
            "mean_word_len": F.round((n_chars - (n_words - 1)) / n_words, 4),
            "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 4),
            "stopword_ratio": F.round(n_stop / F.greatest(n_words, F.lit(1)), 4),
            "upper_ratio": F.round(n_upper / F.greatest(n_chars, F.lit(1)), 4),
        }
    )


def quality_score(df: DataFrame, text_col: str) -> DataFrame:
    """Composite 0-1 quality score from :func:`quality_features` — a
    monotone blend of 'looks like prose' signals."""
    feats = quality_features(df, text_col)
    score = (
        F.when(F.col("n_words") >= 5, 0.25).otherwise(0.0)
        + F.when(F.col("stopword_ratio").between(0.05, 0.6), 0.25).otherwise(0.0)
        + F.when(F.col("punct_ratio") < 0.2, 0.25).otherwise(0.0)
        + F.when(F.col("mean_word_len").between(2.0, 12.0), 0.25).otherwise(0.0)
    )
    return feats.withColumn("quality_score", F.round(score, 2))


# --- language identification ----------------------------------------------------

# Tiny n-gram/stopword heuristic: score = fraction of words in each
# language's marker list; best score wins (ties broken alphabetically so the
# result is deterministic and oracle-checkable). Real pipelines swap in a
# fastText-style model via mapInPandas — this is the dependency-free shape.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": "the and of to in is you that it for".split(),
    "de": "der die und das ist nicht ich ein zu mit".split(),
    "es": "el la de que en los se una por con".split(),
    "fr": "le la de et les des en une est que".split(),
    "it": "il di che la per una sono non con del".split(),
    "pt": "o que de para uma com não por mais como".split(),
    "nl": "de het een en van ik dat niet met voor".split(),
}

_MARKER_LANGS = tuple(sorted(_LANG_MARKERS))

# Script-detected languages: (lang, codepoint-range regex), checked in this
# order — kana before han so Japanese (kana+kanji) isn't misread as zh. The
# ranges are plain literal codepoint classes, valid in both Java regex
# (Spark) and RE2 (DuckDB oracle).
_SCRIPT_LANGS: tuple[tuple[str, str], ...] = (
    ("ja", r"[ぁ-ゟ゠-ヿ]"),  # hiragana + katakana
    ("ko", r"[가-힣]"),  # hangul syllables
    ("zh", r"[一-鿿]"),  # han
    ("ru", r"[Ѐ-ӿ]"),  # cyrillic
    ("ar", r"[؀-ۿ]"),  # arabic
    ("hi", r"[ऀ-ॿ]"),  # devanagari
    ("el", r"[Ͱ-Ͽ]"),  # greek
)


def lang_id(col: Column | str) -> Column:
    """Heuristic language guess for a text column. Non-Latin scripts are
    detected by codepoint class (kana→ja before han→zh, hangul→ko,
    cyrillic→ru, arabic→ar, devanagari→hi, greek→el); Latin languages by
    marker-word hit rate with a deterministic struct-max tie-break (highest
    score wins; ties go to the lexicographically LARGEST lang code, which
    the oracle replays as a descending-lex CASE chain). The documented
    production seam is a fastText-style model via mapInPandas — this is the
    dependency-free shape with the same column contract."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.transform(F.split(F.trim(c), r"\s+"), F.lower)
    n = F.greatest(F.size(words), F.lit(1))

    def ratio(lang: str) -> Column:
        markers = F.array(*[F.lit(w) for w in _LANG_MARKERS[lang]])
        return F.size(F.filter(words, lambda w: F.array_contains(markers, w))) / n

    scored = F.array(
        *[
            F.struct(ratio(lang).alias("score"), F.lit(lang).alias("lang"))
            for lang in _MARKER_LANGS
        ]
    )
    best = F.array_max(scored)
    out = F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
    for lang, pattern in reversed(_SCRIPT_LANGS):
        has = F.size(F.regexp_extract_all(c, F.lit(pattern), 0)) > 0
        out = F.when(has, F.lit(lang)).otherwise(out)
    return out


# --- document fingerprinting ------------------------------------------------------


def fingerprint(col: Column | str) -> Column:
    """Normalization-stable document fingerprint: lowercase, collapse
    whitespace, strip punctuation, then SHA-256. Two documents differing only
    in spacing/case/punctuation collide — the standard exact-dedup key after
    text normalization."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), r"[^\w\s]", ""), r"\s+", " ")
    )
    return F.sha2(norm, 256)


# --- end-to-end curation pipeline ---------------------------------------------


def curate_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 5,
    min_quality: float = 0.75,
    allowed_langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """The training-data curation funnel as ONE declarative plan: quality
    scoring → language ID → normalization-fingerprint first-wins dedup →
    keep/reject decision with a precedence-ordered reason column
    (too_short → low_quality → language → duplicate).

    Everything is Catalyst expressions plus a single window shuffle keyed by
    fingerprint — at 100 TB the funnel is one scan + one hash shuffle, and
    the reason column makes per-stage attrition auditable
    (``groupBy("reject_reason").count()``) without re-running any stage.
    """
    from pyspark.sql import Window

    # Compute-spread the scan (no-op on healthy multi-split layouts): the
    # funnel's map side — stopword HOFs, per-language marker ratios, the
    # normalization regexes — is the expensive part, and on a single-split
    # corpus it would run on one core. Interleaved A/B at sf0.1: 0.37x.
    scored = quality_score(spread(df, id_col).select(id_col, text_col), text_col)
    scored = scored.withColumn("lang_guess", lang_id(text_col))
    scored = scored.withColumn("__fp", fingerprint(text_col))
    w = Window.partitionBy("__fp").orderBy(F.col(id_col).asc())
    scored = scored.withColumn("__rn", F.row_number().over(w))
    reason = (
        F.when(F.col("n_words") < min_words, "too_short")
        .when(F.col("quality_score") < min_quality, "low_quality")
        .when(~F.col("lang_guess").isin(list(allowed_langs)), "language")
        .when(F.col("__rn") > 1, "duplicate")
    )
    return scored.select(
        id_col,
        "lang_guess",
        "quality_score",
        reason.alias("reject_reason"),
        reason.isNull().alias("keep"),
    )


# --- deterministic stratified sampling ----------------------------------------


def stratified_sample(
    df: DataFrame, stratum_col: str, id_col: str, n_per_stratum: int
) -> DataFrame:
    """Deterministic per-stratum downsample: the ``n_per_stratum`` rows with
    the smallest ``md5(id)`` in each stratum (id asc tie-break).

    This is how a 100 TB corpus gets a reproducible training subsample: the
    hash order is a fixed pseudo-random permutation, so the sample is stable
    across runs/engines (md5 agrees between Spark and DuckDB/anything else),
    needs no global sort, and composes with incremental data — a new row
    either displaces the stratum's max-hash member or doesn't. Plan shape:
    one shuffle on the stratum key + per-partition top-n (WindowGroupLimit
    keeps n rows per partition before the final rank)."""
    from pyspark.sql import Window

    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= n_per_stratum)
    )


# --- intra-document repetition (Gopher-style quality signal) -------------------


def repetition_score(col: str, n: int = 3) -> Column:
    """Fraction of duplicated word n-grams within one document:
    ``1 - distinct_ngrams / total_ngrams`` (0 = no repetition). High values
    flag boilerplate/spam — one of the Gopher/C4 repetition filters.

    Pure Catalyst (split + sequence + slice + array_distinct): per-row only,
    no shuffle, runs at scan speed. Documents with fewer than ``n`` words
    yield NULL (no n-grams to judge)."""
    g = word_ngrams_sql(f"`{col}`", n)
    return F.expr(f"round(1.0D - size(array_distinct({g})) / size({g}), 6)")


def word_ngrams_sql(col: str, n: int) -> str:
    """Array of space-joined word n-grams of a column/expression string, as
    Spark-SQL source; NULL when the document has fewer than ``n`` words.
    Pure Catalyst, per-row, ONE expr() parse (see
    functions.scalar.hash64_spark_sql on why hot builders compose strings).

    Grams are built by folding ``n`` word-aligned slices with ``zip_with``
    (gram i = w[i] ⊔ w[i+1] ⊔ … ⊔ w[i+n-1]) — the same shape as
    operators.dedup.shingle_frame, which measured 3-4× faster than the
    earlier ``transform(sequence(1, k), i -> concat_ws(slice(words, i, n)))``
    form: each zip_with walks the arrays pairwise instead of allocating a
    per-gram slice. Output is identical (split produces no NULL elements,
    so concat == concat_ws element-wise). The ``k >= 1`` guard keeps the
    slices from ever being built with a non-positive length. The repeated
    ``split`` text parses to structurally equal subtrees."""
    words = f"split({col}, ' ')"
    k = f"(size({words}) - {n - 1})"
    # right-fold: acc = suffix words joined; every slice has length
    # k, so zip_with never NULL-pads
    acc = f"slice({words}, {n}, {k})"
    for off in range(n - 1, 0, -1):
        acc = (
            f"zip_with(slice({words}, {off}, {k}), {acc},"
            " (a, b) -> concat(a, ' ', b))"
        )
    return f"(CASE WHEN {k} >= 1 THEN {acc} END)"


def word_ngrams(col: str, n: int) -> Column:
    """:func:`word_ngrams_sql` over the column named ``col``."""
    return F.expr(word_ngrams_sql(f"`{col}`", n))


# --- benchmark decontamination -------------------------------------------------


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Training-data decontamination: flag every corpus document sharing at
    least one word ``n``-gram with any benchmark document (the standard
    n-gram-overlap test-set leakage check, as in GPT-3/PaLM data work).

    Returns the corpus ids with a ``contaminated`` flag. Plan shape at
    100 TB: benchmark n-grams are a SMALL distinct set → broadcast;
    corpus n-grams are generated per-row (narrow) and exploded to one
    (id, gram) column pair — the only wide op is the broadcast LEFT SEMI
    join, so the corpus never shuffles and the flag is a semi-join hit."""
    grams_sql = word_ngrams_sql(f"`{text_col}`", n)
    bench_grams = benchmark.selectExpr(
        f"explode({grams_sql}) as gram"
    ).distinct()
    corpus_grams = spread(corpus, id_col).selectExpr(
        f"`{id_col}`", f"explode({grams_sql}) as gram"
    )
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    return corpus.select(id_col).join(
        hits.withColumn("contaminated", F.lit(True)), id_col, "left"
    ).selectExpr(
        f"`{id_col}`", "coalesce(contaminated, false) as contaminated"
    )


# --- chunking (embedding-pipeline windowing) ---------------------------------


def chunk_words(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document into overlapping word windows — the standard
    pre-embedding chunker (window ``size`` words, new chunk every ``stride``;
    stride < size ⇒ overlap). One chunk starts at every stride offset that
    still has words, so short docs yield one (possibly short) chunk and
    nothing is dropped.

    Pure Catalyst: the word array is materialized once, chunk starts come
    from ``sequence(1, n_words, stride)``, and ``posexplode`` emits
    (chunk_id, chunk_text, n_tokens) — no UDF, scan-speed, and the explode
    fan-out (~n_words/stride rows per doc) happens AFTER any pushed filters.

    The input is compute-spread first (no-op on multi-split layouts) so
    the split/slice/concat map work of a single-split corpus runs on
    every core. Interleaved A/B at sf0.1: 0.79x.
    """
    df = spread(df, id_col)
    words = df.withColumn(
        "__w", F.split(F.trim(F.col(text_col)), r"\s+")
    ).withColumn("__n", F.size("__w"))
    starts = F.sequence(F.lit(1), F.greatest("__n", F.lit(1)), F.lit(stride))
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice("__w", s, size))
    )
    return (
        words.filter(F.col("__n") > 0)
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_id", "chunk_text"),
        )
        .withColumn(
            "n_tokens", F.size(F.split(F.col("chunk_text"), r"\s+"))
        )
    )


# --- PII detection / redaction ------------------------------------------------

# Conservative, cross-engine-safe patterns (no lookarounds: DuckDB is RE2).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}
_PII_ORDER = ("ssn", "phone", "email")  # most-specific first


# Additional RE2-safe detectors for the extended pass. The card pattern is
# 13-16 digits in 3-4 dash/space-joined groups (pattern-level screening —
# Luhn validation is a downstream verify, like exact-Jaccard after LSH);
# ipv4 is octet-bounded so version strings like 1.2.3 don't match.
PII_PATTERNS_EXTENDED: dict[str, str] = {
    "card": r"\b\d{4}[- ]\d{4}[- ]\d{4}(?:[- ]\d{4})?\b",
    "ipv4": (
        r"\b(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
        r"(?:\.(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)){3}\b"
    ),
}
_PII_ORDER_EXTENDED = ("card", "ssn", "phone", "ipv4", "email")


def pii_counts(
    col: Column | str, patterns: dict[str, str] | None = None
) -> Column:
    """struct of per-kind match counts — regexp_extract_all lengths,
    scan-speed. Defaults to the core (email, phone, ssn) set; pass a
    pattern dict to widen."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        *[
            F.size(F.regexp_extract_all(c, F.lit(p), 0)).alias(k)
            for k, p in (patterns or PII_PATTERNS).items()
        ]
    )


def redact_pii(
    col: Column | str,
    patterns: dict[str, str] | None = None,
    order: tuple[str, ...] | None = None,
) -> Column:
    """Replace every PII match with ``[<KIND>]`` — chained regexp_replace,
    most-specific pattern first (an SSN would otherwise half-match the
    phone pattern; a card number would half-match an SSN)."""
    c = F.col(col) if isinstance(col, str) else col
    pats = patterns or PII_PATTERNS
    for kind in order or _PII_ORDER:
        c = F.regexp_replace(c, pats[kind], f"[{kind.upper()}]")
    return c


# --- deterministic dataset split ---------------------------------------------


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, int],
    salt: str = "split",
    hash_mode: str = "md5",
) -> DataFrame:
    """Assign every row a split label (train/val/test/…) by hashing its id —
    deterministic, order-independent, and stable under re-runs and
    repartitioning, which random() splits are not. ``weights`` are integer
    proportions (e.g. {"train": 8, "val": 1, "test": 1} → 80/10/10).

    Scale shape: one narrow projection, no shuffle — the md5-derived
    :func:`hash64` bucket is computed inline at scan speed; downstream
    writers can partition by the label column."""
    total = sum(weights.values())
    bucket = F.pmod(
        hash64(
            f"concat({_sql_str(f'{salt}:')}, cast(`{id_col}` as string))",
            mode=hash_mode,
        ),
        F.lit(total),
    )
    edges: list[tuple[str, int]] = []
    acc = 0
    for name, w in weights.items():
        acc += w
        edges.append((name, acc))
    expr = F.lit(edges[-1][0])
    for name, hi in reversed(edges[:-1]):
        expr = F.when(bucket < hi, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    prob: Column | float,
    salt: str = "ds",
    hash_mode: str = "md5",
) -> DataFrame:
    """Keep each row with probability ``prob`` (0..1, may be a per-row
    Column), decided by an md5-derived hash of the row id — deterministic,
    reproducible across engines and re-runs, repartition-stable, and
    joinable (the SAME ids survive every run, unlike rand()-based
    sampling). The workhorse behind quality resampling and source mixing."""
    p = F.lit(prob) if isinstance(prob, (int, float)) else prob
    u = (
        F.pmod(
            hash64(
                f"concat({_sql_str(f'{salt}:')}, cast(`{id_col}` as string))",
                mode=hash_mode,
            ),
            F.lit(1_000_000),
        )
        / 1_000_000.0
    )
    return df.filter(u < p)


def mix_sources(
    df: DataFrame,
    source_col: str,
    id_col: str,
    target_weights: dict[str, float] | None = None,
    salt: str = "mix",
) -> DataFrame:
    """Data-mixing downsample: re-balance a corpus across its sources to
    ``target_weights`` (default: equal shares). Each source's acceptance
    rate is ``min(1, w_s/max_s(n_s'/w_s')⁻¹ …)`` — concretely the rate that
    makes realized counts proportional to the weights without ever
    OVERsampling (the binding source keeps everything; larger ones thin
    deterministically via :func:`deterministic_sample`).

    Scale shape: one count aggregate (tiny), rates become a broadcast map,
    then a scan-speed hash filter — the corpus never shuffles."""
    counts = {
        r[source_col]: r["n"]
        for r in df.groupBy(source_col).agg(F.count("*").alias("n")).collect()
    }
    if target_weights is None:
        target_weights = {s: 1.0 for s in counts}
    # scale chosen so the most-constrained source keeps 100% of its rows
    scale = min(counts[s] / w for s, w in target_weights.items() if s in counts)
    rates = {
        s: min(1.0, target_weights.get(s, 0.0) * scale / n)
        for s, n in counts.items()
    }
    rate_col = F.lit(0.0)
    for s, r in rates.items():
        rate_col = F.when(F.col(source_col) == s, F.lit(r)).otherwise(rate_col)
    return deterministic_sample(df, id_col, rate_col, salt=salt)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    capacity: int,
    bucket: Column | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing (the GPT-style training-prep
    step): documents are laid end-to-end in deterministic ``id_col`` order
    and sliced into ``capacity``-token training windows. Each doc gets its
    global ``start_offset``, its window (``bin_id = start_offset div
    capacity``), and a ``crosses_boundary`` flag (the doc spans a window
    edge and will be split by the materializer).

    The global running token sum uses the two-phase distributed index (the
    o7 discipline): per-``bucket`` token totals → cumulative offsets via a
    partition-less window over the TINY bucket table only, then a
    partitioned within-bucket cumsum + broadcast offset join. No
    partition-less window ever touches the data, so the plan survives any
    scale-up. ``bucket`` must be a deterministic function of ``id_col``
    that respects its order (default: id div 1000)."""
    if bucket is None:
        bucket = (F.col(id_col) / 1000).cast("long")
    b = bucket.alias("__b")
    per_bucket = df.groupBy(b).agg(F.sum(tokens_col).alias("__n"))
    w_off = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_bucket.select(
        "__b", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    w_in = (
        Window.partitionBy(bucket)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (
        F.coalesce(F.sum(tokens_col).over(w_in), F.lit(0)) + F.col("__off")
    ).cast("long")
    return (
        df.join(F.broadcast(offsets), bucket == F.col("__b"))
        .withColumn("start_offset", start)
        .withColumn(
            "bin_id", F.floor(F.col("start_offset") / capacity).cast("long")
        )
        .withColumn(
            "crosses_boundary",
            F.floor((F.col("start_offset") + F.col(tokens_col) - 1) / capacity)
            > F.col("bin_id"),
        )
        .drop("__b", "__off")
    )


# --- Gopher-style document quality rules ---------------------------------------

# The stopword-presence rule counts how many of these appear in the doc;
# Gopher requires >= 2 of its 8 common English words (Rae et al. 2021,
# "Scaling Language Models", §A1.1.2 quality heuristics).
GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "for")


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Full Gopher-style quality rule set per document, pure Catalyst
    (split + higher-order functions — per-row, no shuffle, scan speed):

    - ``n_words`` in [min_words, max_words];
    - ``mean_word_len`` in [3, 10];
    - ``frac_alpha_words`` (words containing at least one letter) >= 0.80;
    - ``symbol_ratio`` (# of '#' and '...' occurrences per word) < 0.1;
    - ``stop_hits`` (distinct GOPHER_STOPWORDS present) >= 2.

    Emits each feature plus the composite ``gopher_pass`` flag so the
    curation funnel can report per-rule reject reasons. All ratios rounded
    to 4 so the DuckDB oracle hashes identically.

    The input is compute-spread first (no-op on multi-split layouts): the
    per-word HOF filters and the stopword containment scan are the cost,
    and on a single-split corpus they run on one task. Interleaved A/B at
    sf0.1: 0.47x direct, 0.65x through curation_filter_funnel.
    """
    df = spread(df, id_col)
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.size(words)
    sum_len = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    hash_cnt = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    ell_cnt = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"\.\.\.", ""))
    ) / 3
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.filter(stop_arr, lambda s: F.array_contains(words, s))
    )
    out = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(sum_len / n_words, 4).alias("mean_word_len"),
        F.round(n_alpha / n_words, 4).alias("frac_alpha_words"),
        F.round((hash_cnt + ell_cnt) / n_words, 4).alias("symbol_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    gopher_pass = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("symbol_ratio") < 0.1)
        & (F.col("stop_hits") >= 2)
    )
    return out.withColumn("gopher_pass", gopher_pass)


def span_dedup(
    df: DataFrame, id_col: str, text_col: str, span_words: int = 5
) -> DataFrame:
    """C4-style global span-level dedup: split each document into
    consecutive ``span_words``-word spans, keep only the FIRST occurrence of
    every span corpus-wide (ordered by (doc id, span position) — the same
    "first document wins" rule C4 applies to its three-sentence spans,
    Raffel et al. 2020 §2.2), and reassemble the surviving spans in order.

    Scale shape: two shuffles total — one hash partition by span content
    for the first-wins ``row_number`` (dedup state never sits on one node;
    hot spans are single-key groups a skew-split handles), one by doc id to
    reassemble. No driver-side state, no all-pairs comparison; this is the
    exact-substring analog of the MinHash pipeline and composes with it.

    Returns (id, n_spans, n_kept, dedup_text).
    """
    from pyspark.sql import Window

    # Compute-spread the scan (no-op on multi-split layouts): the span
    # split/slice/join fan-out is the map-side cost before the first
    # shuffle. Interleaved A/B at sf0.1: 0.64x.
    df = spread(df, id_col)
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_spans = F.ceil(F.size(words) / span_words)
    span_arr = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(
            F.slice(words, i * span_words + 1, span_words), " "
        ),
    )
    spans = df.select(
        F.col(id_col), F.posexplode(span_arr).alias("pos", "span")
    )
    w = Window.partitionBy("span").orderBy(id_col, "pos")
    ranked = spans.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("pos"), F.col("span"))
    )
    return ranked.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda x: x["span"]
            ),
            " ",
        ).alias("dedup_text"),
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 11,
    hash_mode: str = "md5",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006 A-ES): each row gets key = ln(u) / w for a per-row uniform
    u, and the k largest keys are the sample — inclusion probability
    proportional to weight, no sequential state, so it distributes as a
    plain top-k (TakeOrderedAndProject: per-partition heaps, no full sort,
    no shuffle of the corpus).

    u derives from the cross-engine md5 hash of the id (never from rand() —
    the sample must be reproducible and oracle-checkable): u = (h+1)/2^60
    in (0, 1]. ln(1) = 0 is the best possible key, -inf cannot occur.
    """
    h = hash64(f"cast(`{id_col}` as string)", seed=seed, mode=hash_mode)
    u = (h + F.lit(1)) / F.lit(float(1 << 60))
    key = F.log(u) / F.col(weight_col)
    return (
        df.withColumn("__es_key", key)
        .orderBy(F.desc("__es_key"), id_col)
        .limit(k)
        .drop("__es_key")
    )


def normalize_url(col: Column | str) -> Column:
    """Canonical URL for web-corpus dedup keys: lowercase scheme+host,
    strip default ports / fragments / trailing slash, and SORT query
    params (``?b=2&a=1`` == ``?a=1&b=2``). Pure Catalyst (regexp + split +
    array_sort), per-row at scan speed — runs before the exact-dedup
    groupBy so mirror URLs collapse to one key."""
    c = F.col(col) if isinstance(col, str) else col
    no_frag = F.regexp_replace(c, r"#.*$", "")
    # lowercase scheme+host (leave path/query case alone)
    lowered = F.concat(
        F.lower(F.regexp_extract(no_frag, r"^([a-zA-Z]+://[^/?]*)", 1)),
        F.regexp_replace(no_frag, r"^[a-zA-Z]+://[^/?]*", ""),
    )
    # no lookahead: the oracle's RE2 engine lacks it — capture the
    # following char (or end) and re-emit it
    no_port = F.regexp_replace(
        lowered, r"^(https?://[^/:?]*):(?:80|443)([/?]|$)", r"$1$2"
    )
    base = F.regexp_extract(no_port, r"^([^?]*?)/?(?:\?.*)?$", 1)
    query = F.regexp_extract(no_port, r"\?(.*)$", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.when(query == "", base).otherwise(
        F.concat(base, F.lit("?"), sorted_q)
    )


def corpus_report(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-call per-document quality panel: every text signal the engine
    computes, as one wide frame — quality features + composite score,
    Gopher rule flags, language ID, token counts, repetition, char
    entropy, and the dedup fingerprint. All pure Catalyst projections over
    ONE scan (the entropy term is the only aggregation-bearing piece and
    reuses the per-row HOF form since the panel is per-row by contract);
    at 100 TB this is the profiling pass you run before choosing curation
    thresholds."""
    from lakehouse_spark.operators.text import (
        bpe_ish_token_count,
        fingerprint,
        gopher_rules,
        lang_id,
        quality_score,
        repetition_score,
        whitespace_token_count,
    )

    scored = quality_score(df.select(id_col, text_col), text_col)
    gopher = gopher_rules(df, id_col, text_col).select(
        id_col,
        "frac_alpha_words",
        "symbol_ratio",
        "stop_hits",
        "gopher_pass",
    )
    extras = df.select(
        F.col(id_col),
        lang_id(text_col).alias("lang_pred"),
        whitespace_token_count(text_col).alias("n_tokens_ws"),
        bpe_ish_token_count(text_col).alias("n_tokens_bpe"),
        repetition_score(text_col).alias("repetition_3gram"),
        fingerprint(text_col).alias("dedup_fingerprint"),
    )
    return scored.join(gopher, id_col).join(extras, id_col)


def bloom_decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    m_bits: int = 1 << 17,
    seeds: tuple[int, ...] = (31, 37, 41),
) -> DataFrame:
    """Benchmark decontamination with a BLOOM-FILTER prescreen: identical
    result to the plain broadcast-semi-join :func:`decontaminate` (a bloom
    has no false negatives; false positives are removed by the exact
    verify join), but the thing broadcast to every executor is an m-bit
    array (16 KiB here) instead of the full benchmark n-gram set — at
    100 TB with millions of benchmark grams that's the difference between
    a broadcast that fits and one that doesn't. The exact join runs only
    over prescreen survivors, typically a tiny fraction of corpus grams.

    The filter is built DRIVER-side from the (small) benchmark gram set
    and inlined as an array<long> literal: k md5-derived probes per gram,
    deterministic — the same hash family as every other cross-engine op.
    """
    grams_col = word_ngrams(text_col, n)
    bench_grams = [
        r.g
        for r in bench.select(
            F.explode(F.array_distinct(grams_col)).alias("g")
        )
        .distinct()
        .collect()
    ]
    import hashlib

    words = [0] * (m_bits // 64)
    for g in bench_grams:
        for s in seeds:
            h = int(hashlib.md5(f"s{s}:{g}".encode()).hexdigest()[:15], 16)
            pos = h % m_bits
            words[pos // 64] |= 1 << (pos % 64)
    # two's-complement to signed int64 for the Spark literal; the whole
    # filter ships inside the plan as one array<bigint> literal — no join,
    # no broadcast variable plumbing
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]

    doc_grams = docs.select(
        F.col(id_col), F.explode(F.array_distinct(grams_col)).alias("g")
    ).withColumn("__bloom", F.lit(words))
    probes = []
    for i, s in enumerate(seeds):
        doc_grams = doc_grams.withColumn(
            f"__p{i}", F.pmod(hash64("g", seed=s), F.lit(m_bits))
        )
        probes.append(
            f"bit_get(element_at(__bloom, CAST(__p{i} / 64 AS INT) + 1), "
            f"CAST(__p{i} % 64 AS INT)) = 1"
        )
    candidates = doc_grams.filter(F.expr(" AND ".join(probes)))
    verified = candidates.join(
        F.broadcast(
            bench.select(F.explode(F.array_distinct(grams_col)).alias("g")).distinct()
        ),
        "g",
        "left_semi",
    )
    flagged = verified.select(id_col).distinct().withColumn(
        "contaminated", F.lit(True)
    )
    return (
        docs.select(id_col)
        .join(flagged, id_col, "left")
        .withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
    )

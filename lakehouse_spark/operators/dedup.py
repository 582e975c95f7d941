"""Deduplication operators (SURVEY.md §2.7, D1-D4) plus the near-dup family
a training-data pipeline needs at 100 TB (MinHash-LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup).

Scale design
------------
- Exact dedup (D1) is one hash-groupBy: map-side partial aggregation means
  the shuffle carries one row per distinct hash per partition.
- MinHash-LSH avoids the O(n²) pairwise wall: documents are reduced to k
  minhashes, banded, and only same-bucket pairs are compared — the join is
  an equi join on (band, band_hash), so Catalyst shuffles on bucket keys and
  skew-prone giant buckets are split by AQE.
- Hashes default to the cross-engine md5-based :func:`hash64` so the DuckDB
  oracle can replay every step bit-for-bit; pass ``hash_mode="xxhash64"``
  (band_signatures / minhash_near_duplicates, and hash_split /
  deterministic_sample / weighted_sample in operators.text) for the
  JVM-native production fast path where no oracle parity is needed — same
  60-bit range, tested for determinism, benched as dedup_minhash_lsh_xxh.

Provenance (read, not copied): content dedup by SHA-256 ←
amplifierd/services/content_deduplicator.py:36-88; first-wins ordered dedup
← services/profile_compilation.py:660-725; visited-set anti-join ←
services/mention_loader.py:102-106.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from lakehouse_spark.functions.scalar import _MASK60, hash64, hash64_spark_sql
from lakehouse_spark.operators.similarity import _dot_sql, _norm_sql
from lakehouse_spark.operators.skew import spread

# --- cache bookkeeping -------------------------------------------------------
#
# minhash_near_duplicates / ngram_jaccard_pairs persist intermediates that
# feed two plan branches. The returned DataFrame is lazy, so the functions
# themselves can't unpersist — the caller evaluates later. Every persist
# goes through _persist() into this registry; callers (bench loops,
# long-lived query services) call release_caches() after materializing, or
# wrap the evaluate in cache_scope(). Without this, a long-lived session
# running the suite repeatedly pins ever more executor storage memory.

_LIVE_CACHES: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _LIVE_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every cache registered since the last release. Returns the
    number released. Safe to call at any time — unpersist on an already-
    evaluated plan only drops the stored blocks."""
    n = 0
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()
        n += 1
    return n


class cache_scope:
    """``with cache_scope(): pairs.collect()`` — releases dedup caches on
    exit, including on error."""

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        release_caches()
        return False


# Label relations at or below this row count broadcast in the
# connected-components loop (~24 bytes/row hashed for numeric node ids ⇒
# ≤ ~50 MB, comfortably inside executor memory and far under Spark's
# 8 GB / 512M-row broadcast cap). The count is MEASURED each round via
# the checkpoint's observation, so the choice is data-driven like AQE's,
# not a local-mode constant. Node ids are CALLER-supplied: for
# non-numeric id types (URL/path strings can run hundreds of bytes and
# the explicit hint bypasses autoBroadcastJoinThreshold) the cap scales
# down 8× — ~200 B/row at the same ~50 MB budget.
_BROADCAST_LABEL_ROWS = 2_000_000
_BROADCAST_LABEL_ROWS_WIDE = 250_000


def _label_broadcast_cap(dtype) -> int:
    from pyspark.sql import types as T

    narrow = (T.NumericType, T.DateType, T.TimestampType, T.BooleanType)
    return (
        _BROADCAST_LABEL_ROWS
        if isinstance(dtype, narrow)
        else _BROADCAST_LABEL_ROWS_WIDE
    )


# --- D1: exact content dedup ------------------------------------------------


def exact(
    df: DataFrame, content_col: str, credit_col: str, hash_col: str = "content_sha256"
) -> DataFrame:
    """D1: one row per distinct content (SHA-256 identity), crediting every
    source in a deterministic sorted array — the reference keeps first
    content + all paths (content_deduplicator.py:44-68)."""
    return (
        df.withColumn(hash_col, F.sha2(F.col(content_col), 256))
        .groupBy(hash_col)
        .agg(
            F.first(content_col).alias(content_col),
            F.array_sort(F.collect_list(credit_col)).alias(f"{credit_col}s"),
            F.count("*").alias("n_copies"),
        )
    )


def first_wins(
    df: DataFrame, keys: list[str], seq_col: str
) -> DataFrame:
    """D2: order-preserving first-wins dedup. The reference's `seen` sets
    observe file/append order; Spark has no row order, so the caller supplies
    an explicit encounter sequence and we keep rn=1 — NOT dropDuplicates,
    whose survivor is nondeterministic."""
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def visited_anti(frontier: DataFrame, visited: DataFrame, key: str) -> DataFrame:
    """D4: drop rows already in the visited set (BFS building block)."""
    return frontier.join(visited.select(key).distinct(), key, "left_anti")


# --- shingling (shared by MinHash / Jaccard) --------------------------------


def shingle_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    carry: list[str] | None = None,
    spread_input: bool = True,
) -> DataFrame:
    """THE shingling entry point: (id, sh) projection of distinct word
    n-grams. (A column-level variant, ``word_shingles``, existed through
    round 6; it had no callers and its early form re-split the text per
    gram — folded in here so the package exposes exactly one shingling
    path, the fast one.) Two-step: the word array is materialized as a
    column BEFORE the gram lambdas reference it, so the text is split once
    per row, not once per gram (~2× on long docs). Empty/short docs are
    dropped.

    Grams are built by folding ``n`` word-aligned slices with ``zip_with``
    (gram i = w[i] ⊔ w[i+1] ⊔ … ⊔ w[i+n-1]) rather than
    ``transform(sequence(...), i -> concat_ws(slice(...)))`` — each zip_with
    walks the arrays pairwise instead of allocating a per-gram slice, which
    measured 3-4× faster on the sf0.1 documents table.

    ``carry`` names extra input columns to keep on the output (e.g. a
    blocking key): callers that need them ride along in the same scan
    instead of joining the source a second time.

    The input is :func:`~lakehouse_spark.operators.skew.spread` first: the
    gram fold + per-shingle hashing downstream is the CPU-heavy part of
    every near-dup pipeline, and an under-partitioned scan (single
    file/row group) would otherwise run it all on one core.
    ``spread_input=False`` opts out for per-micro-batch callers whose
    output is APPENDED to a store: spreading a tiny batch would fan its
    one-file segment into one file per non-empty partition (guide §6
    small-files hazard) for no compute gain.

    Construction is composed as Spark-SQL strings and parsed in ONE
    ``selectExpr`` per step: the identical expression tree built through
    the Column DSL costs hundreds of py4j round-trips (~0.5-1 ms each on a
    virtualized driver), which dominated the per-query driver time for
    every near-dup pipeline. Same analyzed plan, byte-identical output."""
    if spread_input:
        df = spread(df, id_col)
    extra = [f"`{c}`" for c in (carry or [])]
    # split once per row, THEN fold grams over the materialized column —
    # the two-step shape keeps the text split out of the n gram slices
    words = df.selectExpr(
        f"`{id_col}` as id",
        f"split(trim(`{text_col}`), '\\\\s+') as w",
        *extra,
    )
    count = f"(size(w) - {n - 1})"  # number of grams; all slices use it
    # right-fold: acc = suffix words joined; every slice has length
    # `count` so zip_with never NULL-pads
    acc = f"slice(w, {n}, {count})"
    for off in range(n - 1, 0, -1):
        acc = (
            f"zip_with(slice(w, {off}, {count}), {acc},"
            " (a, b) -> concat(a, ' ', b))"
        )
    return words.selectExpr(
        "id",
        f"CASE WHEN {count} > 0 THEN array_distinct({acc})"
        " ELSE cast(array() as array<string>) END as sh",
        *extra,
    ).filter("size(sh) > 0")


# --- MinHash + LSH -----------------------------------------------------------


def xor_salts(k: int) -> list[int]:
    """Deterministic 60-bit permutation salts shared with the DuckDB oracle.
    XOR with a fixed salt permutes the 60-bit hash space, giving k minhash
    permutations from ONE base hash per shingle — 16× fewer md5 evaluations
    than seeded re-hashing, and identical integer math on both engines
    (values stay positive below 2^61, so no signed-overflow divergence)."""
    return [((i + 1) * 0x9E3779B97F4A7C15) & _MASK60 for i in range(k)]


def minhash_signature_sql(hashes: str, k: int = 16) -> str:
    """k-permutation MinHash signature, as Spark-SQL source, over a
    pre-hashed shingle array expression (ARRAY<BIGINT>, from
    :func:`hash64_spark_sql`): per salt, min over XOR-permuted values.
    Empty inputs keep the +inf sentinel — filter empty docs first. One
    ``expr()`` parse (see :func:`shingle_frame` on why construction
    round-trips matter).

    Shape: ONE fold over the hash array carrying a k-wide accumulator
    (zip_with against a constant salt array), instead of k independent
    array_min(transform(...)) branches. Identical math, but the generated
    code is a single loop — ~5 s less one-time codegen compile per query at
    k=16, which dominated cold-start timings."""
    salts = ", ".join(f"{s}L" for s in xor_salts(k))
    # sentinel > any 60-bit hash value; never survives a non-empty input
    return (
        f"aggregate({hashes}, array_repeat({1 << 62}L, {k}),"
        f" (acc, h) -> zip_with(acc, array({salts}),"
        " (a, s) -> least(a, (h ^ s))))"
    )


def band_signatures_from_shingles(
    shingled: DataFrame, k: int = 16, bands: int = 4, hash_mode: str = "md5"
) -> DataFrame:
    """(id, band, band_sig) LSH band relation from a :func:`shingle_frame`
    output — the narrow join key for candidate generation. Shared by the
    batch near-dup pipeline and the streaming dedup-ingest sink (whose
    signature INDEX is exactly this relation, accumulated).

    ``hash_mode="xxhash64"`` is the production fast path (native JVM hash,
    no md5 hex round-trip); keep the default ``"md5"`` where a DuckDB
    oracle must replay the signatures."""
    rows_per_band = k // bands
    hs = f"transform(sh, s -> {hash64_spark_sql('s', mode=hash_mode)})"
    sig = shingled.selectExpr("id", f"{minhash_signature_sql(hs, k)} as sig")
    return sig.selectExpr(
        "id",
        f"posexplode(transform(sequence(0, {bands - 1}),"
        f" b -> slice(sig, b * {rows_per_band} + 1, {rows_per_band})))"
        " as (band, band_sig)",
    )


def band_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    hash_mode: str = "md5",
    spread_input: bool = True,
) -> DataFrame:
    """Text → LSH band relation in one call (shingle + minhash + band).
    Pass ``spread_input=False`` from per-micro-batch append paths (see
    :func:`shingle_frame`)."""
    return band_signatures_from_shingles(
        shingle_frame(df, id_col, text_col, n, spread_input=spread_input),
        k, bands, hash_mode,
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.5,
    hash_mode: str = "md5",
) -> DataFrame:
    """MinHash-LSH near-dup pairs: shingle → k minhashes → ``bands`` bands of
    k/bands rows → explode to (band_idx, band_signature) → self equi join on
    the band bucket → verify candidates with exact Jaccard on shingle sets.

    Returns (a_id, b_id, jaccard) with a_id < b_id, only verified pairs.

    Scale: the banded relation is NARROW (id, band, band_sig) — shingle
    arrays never enter the self-join shuffle; candidates join back to the
    shingle sets only for verification. ``base`` and ``banded`` are
    persisted: each feeds two plan branches (self-join sides / verify
    sides), and without a cache Spark recomputes the full
    shingle+hash pipeline per branch. rows_per_band = k/bands tunes
    recall/precision (standard LSH banding); at 100 TB raise k and bands
    rather than lowering min_jaccard.
    """
    base = _persist(shingle_frame(df, id_col, text_col, n))
    banded = _persist(band_signatures_from_shingles(base, k, bands, hash_mode))
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            F.expr("a.band = b.band AND a.band_sig = b.band_sig AND a.id < b.id"),
        )
        .selectExpr("a.id as a_id", "b.id as b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    verified = cand.join(
        base.selectExpr("id as a_id", "sh as a_sh"), "a_id"
    ).join(base.selectExpr("id as b_id", "sh as b_sh"), "b_id")
    # |A∪B| = |A|+|B|-|A∩B| (shingle arrays are distinct by construction):
    # one array_intersect per pair instead of intersect + array_union —
    # array_union built a whole merged array only to take its size.
    return (
        verified.selectExpr(
            "a_id",
            "b_id",
            "a_sh",
            "b_sh",
            "size(array_intersect(a_sh, b_sh)) as inter",
        )
        .selectExpr(
            "a_id",
            "b_id",
            "(inter / ((size(a_sh) + size(b_sh)) - inter)) as jaccard",
        )
        .filter(f"jaccard >= {min_jaccard}")
        .select("a_id", "b_id", "jaccard")
    )


# --- n-gram Jaccard (blocked pairwise) ---------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard similarity within a blocking key (e.g. language,
    source, length bucket), computed via an INVERTED INDEX rather than a
    blockwise all-pairs array comparison: explode distinct shingles, equi
    self-join on (block, shingle) to count each pair's intersection, then
    |A∪B| = |A|+|B|-|A∩B|. Work is proportional to the number of SHARED
    shingles, not O(sum block² · array length) — at sf0.1 this measured ~5×
    faster than the array_intersect form with byte-identical output.

    Only pairs sharing ≥1 shingle are emitted (a zero-overlap pair has
    jaccard 0 and could never pass a positive threshold). ``min_jaccard``
    must be > 0 for the operator to stay selective.

    Scale note: a shingle shared by k docs in a block contributes k² join
    rows. Natural-text 3-grams are overwhelmingly rare so the sum is near
    linear; boilerplate-heavy corpora should pre-drop ultra-frequent
    shingles upstream (that turns the operator approximate, so it is not
    done here — this is the exact verifier). AQE splits any residual hot
    (block, shingle) key."""
    base = _persist(
        shingle_frame(
            df.withColumn("__blk", F.col(block_col)),
            id_col, text_col, n, carry=["__blk"],
        )
        .withColumnRenamed("__blk", "blk")
        .withColumn("sz", F.size("sh"))
    )
    ex = base.selectExpr("id", "blk", "sz", "explode(sh) as g")
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            F.expr("a.blk = b.blk AND a.g = b.g AND a.id < b.id"),
        )
        .groupBy(
            F.expr("a.id as a_id"),
            F.expr("b.id as b_id"),
            F.expr("a.sz as a_sz"),
            F.expr("b.sz as b_sz"),
        )
        .agg(F.expr("count(*) as inter"))
    )
    return inter.selectExpr(
        "a_id",
        "b_id",
        "(inter / ((a_sz + b_sz) - inter)) as jaccard",
    ).filter(f"jaccard >= {min_jaccard}")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    min_containment: float = 0.5,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT within a blocking key: |A∩B| / |A|
    and |A∩B| / |B| per candidate pair — the superset/quote detector
    Jaccard misses (a paragraph fully contained in a much longer document
    has tiny Jaccard but containment 1.0; Broder's resemblance-vs-
    containment distinction). Same inverted-index shape as
    :func:`ngram_jaccard_pairs` — work is O(shared shingles), never a
    blockwise all-pairs array comparison. Pairs where NEITHER direction
    reaches ``min_containment`` are dropped."""
    base = _persist(
        shingle_frame(
            df.withColumn("__blk", F.col(block_col)),
            id_col, text_col, n, carry=["__blk"],
        )
        .withColumnRenamed("__blk", "blk")
        .withColumn("sz", F.size("sh"))
    )
    ex = base.selectExpr("id", "blk", "sz", "explode(sh) as g")
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            F.expr("a.blk = b.blk AND a.g = b.g AND a.id < b.id"),
        )
        .groupBy(
            F.expr("a.id as a_id"),
            F.expr("b.id as b_id"),
            F.expr("a.sz as a_sz"),
            F.expr("b.sz as b_sz"),
        )
        .agg(F.expr("count(*) as inter"))
    )
    return inter.selectExpr(
        "a_id",
        "b_id",
        "(inter / a_sz) as containment_a",
        "(inter / b_sz) as containment_b",
    ).filter(
        f"containment_a >= {min_containment}"
        f" OR containment_b >= {min_containment}"
    )


# --- SimHash -----------------------------------------------------------------


SIMHASH_BITS = 60  # hash64 is md5-derived 60-bit; every bit position is live


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS
) -> DataFrame:
    """SimHash per document: explode whitespace tokens, hash each with the
    cross-engine :func:`hash64`, and for every bit position sum +1/-1 votes;
    the fingerprint sets each bit whose vote is positive.

    Shape: one explode + ONE groupBy with ``bits`` static sum aggregates —
    all inside whole-stage codegen, one shuffle on the doc id (map-side
    partial aggregation compresses the token fan-out). Returns
    (id, simhash BIGINT)."""
    df = spread(df, id_col)
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", hash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    voted = tok.groupBy("id").agg(*votes)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return voted.select("id", fp.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """SimHash near-dup pairs with pigeonhole-complete banded blocking:
    the ``bits``-bit fingerprint splits into ``max_hamming + 1`` bands, and
    any pair within Hamming distance ``max_hamming`` must agree on at least
    one FULL band — so the banded equi self-join (same shape as MinHash LSH)
    finds every qualifying pair, no recall loss. Candidates are verified
    with bit_count(xor). Returns (a_id, b_id, hamming).

    Scale: the banded relation is (id, sh, band, band_val) — 4 narrow rows
    per doc at max_hamming=3; the join shuffles on (band, band_val) buckets
    and AQE splits any hot bucket (e.g. the all-zeros band of short docs).
    """
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    base = simhash(df, id_col, text_col, bits).withColumnRenamed("simhash", "sh")
    banded = base.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sh"), i * band_bits).bitwiseAND(F.lit(mask))
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
    )


# --- embedding cosine near-dup ------------------------------------------------


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str | None = None,
    min_cosine: float = 0.95,
) -> DataFrame:
    """Embedding near-dup pairs by cosine similarity. With ``block_col``
    (e.g. an LSH bucket or cluster id from operators.similarity) the join is
    an equi join; without it this is a full cross join — only for small/
    sampled inputs. JVM-side math: zip_with product + aggregate sum."""
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col is not None:
        cols.append(F.col(block_col).alias("blk"))
    # Norm folded once per INPUT row (before the self-join fan-out), not
    # once per pair — identical doubles, only the dot remains per pair.
    base = spread(df, id_col).select(*cols).withColumn("nv", F.expr(_norm_sql("v")))
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if block_col is not None:
        cond = (F.col("a.blk") == F.col("b.blk")) & cond
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.expr(f"{_dot_sql('a.v', 'b.v')} / (a.nv * b.nv)").alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def connected_components(
    pairs: DataFrame,
    left_col: str,
    right_col: str,
    all_nodes: DataFrame | None = None,
    node_col: str = "node",
    max_iter: int = 25,
    pairs_unique: bool = False,
    nodes_unique: bool = False,
) -> DataFrame:
    """Turn near-dup PAIRS into dedup DECISIONS: connected components via
    iterative min-label propagation (cluster_id = smallest node id in the
    component — the member a keep-first policy retains).

    Scale shape (round-12 rework — same fixpoint, less work per round):

    - **Round 1 is one groupBy, no join**: with initial labels lbl(v)=v,
      the first propagation is exactly ``min(v, min neighbor)``, so the
      initial label relation and its join never exist.
    - **Each later round is ONE join + ONE groupBy** (2 shuffles, was 3):
      the old labels ride along as self-rows (v→v) in the neighbor stream,
      so the per-round output (new label + old label for the convergence
      flag) comes out of the single aggregation — the separate
      labels⋈nbr_min join is gone.
    - **Pointer-doubling shortcuts are forward-only** (v→lbl(v)); min
      still flows along 2^k-length paths after k rounds (O(log diameter)
      convergence). The old reverse edge (lbl(v)→v) was provably dead
      weight: joined against the same label snapshot it contributes
      lbl(v) to node lbl(v), and labels are non-increasing with
      lbl(u) <= u always, so it can never lower anything — a third of the
      per-round shuffle removed with zero effect on the fixpoint.
    - **Isolated nodes never enter the loop**: ``all_nodes`` members
      without an edge are appended as their own cluster AFTER
      convergence (one anti join), so every round iterates only over
      edge-touched nodes — on a typical corpus the near-dup members are
      a small fraction, and the per-round shuffle shrinks accordingly.
    - ``localCheckpoint`` cuts lineage per round (the closure.py loop
      discipline); `pairs` is usually an expensive similarity pipeline,
      so the symmetric edge set is materialized once up front.

    ``pairs_unique=True`` skips the edge-dedup shuffle (duplicates only
    cost work, never correctness — pass it when ``pairs`` is the output
    of an aggregation, e.g. one row per (a, b) with a < b).
    ``nodes_unique=True`` likewise skips deduplicating ``all_nodes``.

    ``all_nodes`` (optional, one ``node_col`` column) adds isolated nodes:
    every document appears in the output, singletons as their own cluster.
    """
    e = pairs.selectExpr(f"`{left_col}` as src", f"`{right_col}` as dst")
    broadcast_cap = _label_broadcast_cap(e.schema["src"].dataType)
    edges = e.union(e.selectExpr("dst as src", "src as dst"))
    if not pairs_unique:
        edges = edges.distinct()
    edges = edges.localCheckpoint()
    # Convergence and label-relation size piggyback on the SAME action that
    # materializes each round's checkpoint (an Observation on the plan):
    # the old per-round isEmpty() was a second full pass over the labels —
    # one extra job per round locally, one extra scan per round at scale.
    # Expression Columns are built ONCE (here) and reused every round: each
    # py4j construction round-trip costs ~0.5-1 ms on a virtualized driver,
    # and an iterative operator pays it per round (see shingle_frame).
    _metrics = (
        F.expr("count(1) as n"),
        F.expr("count(CASE WHEN node != lbl THEN 1 END) as moved"),
    )
    _round_metrics = (
        F.expr("count(1) as n"),
        F.expr("count(CASE WHEN nlbl != olbl THEN 1 END) as moved"),
    )
    _round_aggs = (
        F.expr("min(nlbl) as nlbl"),
        F.expr("min(CASE WHEN dst = src THEN nlbl END) as olbl"),
    )
    # Round 1: lbl(v) = min(v, min neighbor) — covers every edge endpoint
    # (edges are symmetric, so each endpoint appears as src).
    obs = Observation()
    labels = (
        edges.groupBy("src")
        .agg(F.expr("min(dst) as mn"))
        .selectExpr("src as node", "least(src, mn) as lbl")
        .observe(obs, *_metrics)
        .localCheckpoint()
    )
    # Round 1 left a label above its component minimum only where a
    # smaller id sits >1 hop away, and such a node always has lbl != node
    # somewhere in its component — so "no label moved off its own node"
    # means only self-loop edges existed and round 1 is already the
    # fixpoint.
    m = obs.get
    n_labels, converged = m["n"], m["moved"] == 0
    rounds = 1
    while not converged and rounds < max_iter:
        rounds += 1
        shortcuts = labels.filter("node != lbl").selectExpr(
            "node as src", "lbl as dst"
        )
        self_rows = labels.selectExpr("node as src", "node as dst")
        aug = edges.unionByName(shortcuts).unionByName(self_rows)
        # One join + one groupBy: nlbl = min over {own label (self row),
        # neighbor labels (edges), label's label (shortcut)}; the old
        # label for the convergence flag is recovered from the self row
        # (dst == src) inside the same aggregation. The label relation's
        # row count is KNOWN (previous round's observation): when it fits
        # a hash relation comfortably, broadcast it — the per-round join
        # then needs no exchange on the edge stream (guide §3.1: pick the
        # strategy deliberately). SMJ/SHJ stays the fallback for huge
        # label sets, so spill behavior at scale is unchanged.
        lbl_rel = labels.selectExpr("node as dst", "lbl as nlbl")
        if n_labels <= broadcast_cap:
            lbl_rel = F.broadcast(lbl_rel)
        obs = Observation()
        new = (
            aug.join(lbl_rel, "dst")
            .groupBy("src")
            .agg(*_round_aggs)
            .observe(obs, *_round_metrics)
            .localCheckpoint()
        )
        m = obs.get
        n_labels, converged = m["n"], m["moved"] == 0
        labels = new.selectExpr("src as node", "nlbl as lbl")
    if not converged:
        # A silent stop here would return split components that no longer
        # match the transitive-closure semantics (and any recursive-CTE
        # oracle). Fail loudly; callers with truly deep graphs raise
        # max_iter — log2(diameter) rounds suffice with the shortcuts above.
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; labels were still changing. Increase max_iter."
        )
    if all_nodes is not None:
        iso = all_nodes.selectExpr(f"`{node_col}` as node")
        if not nodes_unique:
            iso = iso.distinct()
        # Same count-driven choice for the isolated-node anti join: the
        # label set's size is measured, so a small one broadcasts and the
        # (big) corpus side never shuffles.
        lbl_nodes = labels.select("node")
        if n_labels <= broadcast_cap:
            lbl_nodes = F.broadcast(lbl_nodes)
        iso = iso.join(lbl_nodes, "node", "left_anti").selectExpr(
            "node", "node as lbl"
        )
        labels = labels.unionByName(iso)
    return labels.selectExpr("node as doc_id", "lbl as cluster_id")


def incremental_connected_components(
    labels: DataFrame,
    new_pairs: DataFrame,
    left_col: str,
    right_col: str,
    new_nodes: DataFrame | None = None,
    node_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Merge NEW documents and near-dup pairs into an EXISTING clustering
    without recomputing from the historical edge set — the maintenance path
    a 100 TB dedup index needs when a fresh crawl lands.

    ``labels`` is a previous :func:`connected_components` output
    (doc_id, cluster_id). Each existing cluster is re-entered as its STAR —
    one (member ↔ cluster_id) edge per member — which is a connectivity-
    preserving contraction of all historical edges: any old intra-cluster
    path exists through the representative. Propagation cost is therefore
    O(new pairs + members of touched clusters), independent of how many
    historical pairs produced the clustering. Output format matches
    :func:`connected_components` and EQUALS a full recompute over
    (old ∪ new) edges (parity-tested), because min-labels only depend on
    connectivity, and cluster ids are already component minima."""
    star = labels.filter(F.col(node_col) != F.col("cluster_id")).select(
        F.col(node_col).alias("a_id"), F.col("cluster_id").alias("b_id")
    )
    pairs = new_pairs.select(
        F.col(left_col).alias("a_id"), F.col(right_col).alias("b_id")
    ).unionByName(star)
    nodes = labels.select(F.col(node_col).alias("node"))
    if new_nodes is not None:
        nodes = nodes.unionByName(
            new_nodes.select(F.col(node_col).alias("node"))
        )
    return connected_components(
        pairs, "a_id", "b_id",
        all_nodes=nodes.distinct(), node_col="node", max_iter=max_iter,
        nodes_unique=True,  # distinct applied above
    )


class DedupIndex:
    """Persisted LSH screening index: the batch face of the streaming
    dedup-ingest sink (same band relation, same TableStore). Build once
    over the accepted corpus, then ``screen`` any candidate batch into
    (novel, duplicate) BEFORE paying ingestion/tokenization costs — and
    ``admit`` what you kept so the index keeps up.

    Candidate-level semantics (sharing any LSH band = duplicate), matching
    streaming.live.dedup_ingest_sink — the index stores only the narrow
    (id, band, band_sig) rows, never shingle sets. Run the exact
    pair/cluster pipeline offline for verification."""

    def __init__(
        self,
        spark,
        root: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        n: int = 3,
        k: int = 16,
        bands: int = 4,
    ):
        from lakehouse_spark.mutation.store import TableStore

        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.n, self.k, self.bands = n, k, bands
        self.store = TableStore(spark, root, "id")

    def _bands(self, docs: DataFrame, spread_input: bool = True) -> DataFrame:
        return band_signatures(
            docs, self.id_col, self.text_col, n=self.n, k=self.k,
            bands=self.bands, spread_input=spread_input,
        )

    def build(self, corpus: DataFrame) -> None:
        """Initialize the index store from ``corpus``. Banding is NOT
        spread (same reasoning as :meth:`admit`): the spread only fires
        on an under-partitioned corpus, exactly the case where fanning
        the banded rows across every core turns the store's first
        segment into one small file per partition (guide §6) — and a
        coalesce after the spread would pull the narrow banding chain
        back into the coalesced tasks, undoing the compute win anyway.
        Callers with a huge single-split corpus (unsplittable codec)
        should repartition it before building."""
        self.store.init(self._bands(corpus, spread_input=False))

    def admit(self, docs: DataFrame) -> None:
        """Append the band rows of newly-accepted documents (O(new docs)).
        Banding is NOT spread here: an admit batch is usually small and
        its rows become a store segment — one file, not one per
        partition."""
        self.store.append(self._bands(docs, spread_input=False))

    def screen(self, docs: DataFrame) -> DataFrame:
        """``docs`` + a boolean ``is_duplicate`` column: True when the doc
        shares any LSH band with the indexed corpus. One equi join on
        (band, band_sig); the index relation is narrow and the candidate
        batch is usually small → broadcast-friendly either way."""
        if not self.store.exists():
            return docs.withColumn("is_duplicate", F.lit(False))
        hits = (
            self._bands(docs)
            .join(
                self.store.read().select("band", "band_sig"),
                ["band", "band_sig"],
                "left_semi",
            )
            .select(F.col("id").alias(self.id_col))
            .distinct()
            .withColumn("__dup", F.lit(True))
        )
        return docs.join(hits, self.id_col, "left").withColumn(
            "is_duplicate", F.coalesce(F.col("__dup"), F.lit(False))
        ).drop("__dup")


# --- random-hyperplane LSH for embeddings --------------------------------------


def hyperplanes(k: int, dim: int, seed: int = 5) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1]^dim, derived from
    md5 so Spark and the DuckDB oracle inline the SAME literals (never
    rand(): the signature must be reproducible across engines and runs)."""
    import hashlib

    out = []
    for p in range(k):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{seed}:{p}:{i}".encode()).hexdigest()[:15], 16)
            row.append(h / float(1 << 60) * 2.0 - 1.0)
        out.append(row)
    return out


def rp_signature(v: str, planes) -> "F.Column":
    """Sign-bit signature column of the vector expression ``v``: bit p =
    [<v, planes[p]> >= 0] (Charikar SimHash for vectors). One HOF fold per
    plane, no shuffle; planes are inlined double literals (``repr`` round-
    trips exactly) so the signature replays identically cross-engine."""
    sig = "CAST(0 AS BIGINT)"
    for p, plane in enumerate(planes):
        arr = "array(" + ", ".join(f"{float(x)!r}D" for x in plane) + ")"
        sig += (
            f" + CAST(CASE WHEN {_dot_sql(v, arr)} >= 0 THEN {1 << p} ELSE 0 END"
            " AS BIGINT)"
        )
    return F.expr(sig)


def rp_lsh_near_duplicates(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    bands: int = 2,
    min_cosine: float = 0.3,
    seed: int = 5,
) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH (SimHash for vectors,
    Charikar 2002): sign of <v, h_p> for k fixed hyperplanes gives a k-bit
    signature whose Hamming distance estimates the angle; banding the bits
    turns near-neighbor search into equi joins on (band, bits).

    Scale shape — identical discipline to the MinHash pipeline: the corpus
    is touched once to sign (per-row HOF fold, no shuffle), candidates come
    from a banded EQUI self-join (never all-pairs; collision probability
    for a random pair at 8-bit bands is (1 - θ/π)^8 ≈ 1-2%), and the exact
    cosine verifies candidates only. Unlike the label-blocked
    embedding_near_duplicates, this needs NO precomputed block column —
    the hash IS the blocking, which is what works when no natural blocking
    key exists.
    """
    from pyspark.sql import functions as F

    planes = hyperplanes(k, len(emb.select(vec_col).first()[0]), seed)
    # Norm folded once per signed row (before the banding fan-out), not
    # once per candidate pair — identical doubles, as in
    # embedding_near_duplicates.
    signed = spread(emb, id_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.expr(_norm_sql(f"`{vec_col}`")).alias("nv"),
        rp_signature(f"`{vec_col}`", planes).alias("sig"),
    )

    width = k // bands
    mask = (1 << width) - 1
    banded = signed.select(
        "id",
        "v",
        "nv",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "v", "nv", "bb.band", "bb.bits")

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.v").alias("av"),
            F.col("b.v").alias("bv"),
            F.col("a.nv").alias("anv"),
            F.col("b.nv").alias("bnv"),
        )
        .dropDuplicates(["a_id", "b_id"])
    )

    cos = F.expr(f"{_dot_sql('av', 'bv')} / (anv * bnv)")
    return (
        cand.withColumn("cosine", F.round(cos, 6))
        .filter(F.col("cosine") >= min_cosine)
        .select("a_id", "b_id", "cosine")
    )


def minhash_cross_corpus(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Cross-corpus MinHash-LSH: which INCOMING documents near-duplicate
    something already in the EXISTING corpus — the batch face of
    incremental ingest (the streaming twin is dedup_ingest_sink; the
    persisted face is DedupIndex.screen).

    Scale shape: at 100 TB the existing side's band relation is the
    precomputed INDEX (build once, reuse per batch — exactly what
    DedupIndex persists); the incoming batch bands are tiny and the
    candidate join is banded-equi existing⨝incoming, never existing²
    or all-pairs. Returns (existing_id, incoming_id, jaccard).
    """
    ex_base = _persist(shingle_frame(existing, id_col, text_col, n))
    in_base = _persist(shingle_frame(incoming, id_col, text_col, n))
    ex_band = band_signatures_from_shingles(ex_base, k, bands)
    in_band = band_signatures_from_shingles(in_base, k, bands)
    cand = (
        ex_band.alias("e")
        .join(
            in_band.alias("i"),
            (F.col("e.band") == F.col("i.band"))
            & (F.col("e.band_sig") == F.col("i.band_sig")),
        )
        .select(
            F.col("e.id").alias("existing_id"), F.col("i.id").alias("incoming_id")
        )
        .dropDuplicates(["existing_id", "incoming_id"])
    )
    verified = cand.join(
        ex_base.select(F.col("id").alias("existing_id"), F.col("sh").alias("e_sh")),
        "existing_id",
    ).join(
        in_base.select(F.col("id").alias("incoming_id"), F.col("sh").alias("i_sh")),
        "incoming_id",
    )
    # same |A|+|B|-|A∩B| identity as minhash_near_duplicates
    return (
        verified.withColumn(
            "inter", F.size(F.array_intersect("e_sh", "i_sh"))
        )
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.size("e_sh") + F.size("i_sh") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("existing_id", "incoming_id", "jaccard")
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int | None = 8,
    tau: float = 0.3,
    target_cluster_size: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication over an embedding column — cluster the corpus, then
    drop near-duplicates WITHIN each cluster, so the pairwise cosine
    comparison never crosses cluster boundaries and total pair cost is
    Σ|cluster|² instead of n².

    Deterministic engine-agnostic variant: cluster "centroids" are the
    ``n_clusters`` corpus vectors with the smallest md5(id) (the repo's
    reproducible-sampling convention) rather than k-means means, each
    vector assigns to its max-cosine centroid (rounded to 6dp,
    centroid-id-asc ties), and within a cluster the SMALLEST id of a
    near-dup pair survives (the paper keeps a per-group representative
    chosen by distance-to-centroid; keep-smallest-id is the same greedy
    policy made reproducible across engines and re-runs).

    Returns every input row as (``id_col``, cluster_id, kept) — apply
    ``filter("kept")`` for the surviving corpus.

    Scale shape: the seed relation is tiny and broadcast, so assignment
    is scan-speed (argmax over n_clusters broadcast rows via map-side
    max_by partial aggregation — the corpus never shuffles to assign);
    the within-cluster self-join shuffles on cluster_id once.

    ``n_clusters=None`` (the scale contract, round 8) sizes the cluster
    count as ``ceil(n / target_cluster_size)`` — CONSTANT expected cluster
    size, so the within-cluster pair space grows LINEARLY in the corpus
    (``~n * target_cluster_size``). A fixed cluster count is quadratic
    (the round-8 stress run measured 99.6x shuffle on 10x data at
    n_clusters=8), and the √n rule sometimes quoted from the paper still
    leaves pair space at n^1.5; constant cluster size is what actually
    survives 100 TB. Assignment cost is n * n_clusters broadcast
    comparisons — at extreme scale swap the flat argmax for the IVF
    two-level assignment in operators/similarity (same contract)."""
    e = spread(df, id_col).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if n_clusters is None:
        import math

        n = e.count()
        n_clusters = max(8, -(-n // target_cluster_size))
        if n_clusters > 64:
            # Large-corpus path: flat argmax assignment is O(n * k) =
            # O(nˆ2 / target_cluster_size) — the round-8 100x stress
            # measured 13x time on 10x data from exactly this term. Swap
            # the assignment for random-hyperplane bucketing (Charikar
            # sign bits, cosine-preserving, deterministic md5 planes):
            # O(n * log k * dim), truly scan-linear, same within-cluster
            # dedup downstream. The same size-triggered plan transition
            # discipline as broadcast-vs-shuffle joins; the oracle-checked
            # small-corpus path keeps the seed-argmax form.
            #
            # ORACLE-PARITY THRESHOLD (round-9 advisor note): this switch
            # fires at n > 64 * target_cluster_size (4096 with defaults).
            # cluster_id changes domain here (hyperplane signature, not a
            # seed id) and the DuckDB oracle in queries/dedup_sim.py
            # implements only the argmax path — cross-engine hash checks
            # are valid for corpora at or under the threshold (every
            # shipped sf0.01 correctness gate), and the large path is
            # pinned by pytest + the dedup_stress_100x bench instead. A
            # future sf bump that crosses 4096 embeddings is a documented
            # plan transition, not a correctness regression.
            h = max(3, math.ceil(math.log2(n_clusters)))
            dim = len(e.select("v").first()[0])
            planes = hyperplanes(h, dim)
            clustered = e.withColumn(
                "cluster_id", rp_signature("v", planes).cast("string")
            )
            # Skew control (round-9 advisor fix): sign-bit signatures over
            # correlated embeddings can pile mass into one bucket,
            # reintroducing the within-block quadratic this path exists to
            # avoid. Buckets beyond 16x the target size are re-split with
            # EXTRA hyperplanes (seed-distinct, so the refinement is a
            # finer LSH, preserving the near-dup-pairs-collide property) —
            # bucket count thus grows with bucket mass, never fixed.
            cap = 16 * target_cluster_size
            big = [
                r["cluster_id"]
                for r in clustered.groupBy("cluster_id")
                .count()
                .filter(F.col("count") > cap)
                .collect()
            ]
            if big:
                extra = hyperplanes(max(3, h // 2 + 1), dim, seed=11)
                clustered = clustered.withColumn(
                    "cluster_id",
                    F.when(
                        F.col("cluster_id").isin(big),
                        F.concat_ws(
                            "_",
                            F.col("cluster_id"),
                            rp_signature("v", extra).cast("string"),
                        ),
                    ).otherwise(F.col("cluster_id")),
                )
            assigned = clustered.select("id", "cluster_id")
            pairs = embedding_near_duplicates(
                clustered, "id", "v", block_col="cluster_id", min_cosine=-2.0
            )
            dropped = (
                pairs.withColumn("cos", F.round("cosine", 6))
                .filter(F.col("cos") >= tau)
                .select(F.col("b_id").alias("id"))
                .distinct()
            )
            return (
                assigned.join(
                    dropped.withColumn("kept", F.lit(False)), "id", "left"
                ).select(
                    F.col("id").alias(id_col),
                    "cluster_id",
                    F.coalesce("kept", F.lit(True)).alias("kept"),
                )
            )
    seeds = (
        e.withColumn("__h", F.md5(F.col("id").cast("string")))
        .orderBy("__h", "id")
        .limit(n_clusters)
        .select(F.col("id").alias("cid"), F.col("v").alias("cv"))
    )

    # Norms folded once per corpus row / per seed (not once per
    # (row, seed) pair): same doubles, n_clusters× fewer norm folds in
    # the argmax assignment — the dominant per-row cost of this path.
    scored = (
        e.withColumn("nv", F.expr(_norm_sql("v")))
        .crossJoin(F.broadcast(seeds.withColumn("cnv", F.expr(_norm_sql("cv")))))
        .selectExpr(
            "id", "cid", f"round({_dot_sql('v', 'cv')} / (nv * cnv), 6) as cos"
        )
    )
    # argmax by (cos desc, cid asc): max_by over a (cos, -cid) struct —
    # the ordering key is unique per (id, cid), so ties cannot introduce
    # nondeterminism. Narrow rows + map-side partial max: the only
    # shuffled relation is (id, cos, cid), never the vectors.
    assigned = scored.groupBy("id").agg(
        F.max_by(
            "cid", F.struct(F.col("cos"), (-F.col("cid")).alias("nid"))
        ).alias("cluster_id")
    )
    clustered = e.join(assigned, "id")
    pairs = embedding_near_duplicates(
        clustered, "id", "v", block_col="cluster_id", min_cosine=-2.0
    )
    dropped = (
        pairs.withColumn("cos", F.round("cosine", 6))
        .filter(F.col("cos") >= tau)
        .select(F.col("b_id").alias("id"))  # a_id < b_id: smallest wins
        .distinct()
    )
    return (
        assigned.join(
            dropped.withColumn("kept", F.lit(False)), "id", "left"
        )
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            F.coalesce("kept", F.lit(True)).alias("kept"),
        )
    )

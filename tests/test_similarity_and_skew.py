"""ANN quality (IVF recall vs brute force) + skew operator semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_spark.io import load_table
from lakehouse_spark.operators import similarity, skew

from tests.conftest import SF_SMALL


def _emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def test_ivf_recall_against_bruteforce(spark):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk_bruteforce(emb, queries, k=5)
    truth = {(r.query_id, r.neighbor_id) for r in exact.collect()}

    # 25 centroids over 500 near-random vectors: structural recall for
    # random data ≈ covered-bucket mass, so probe ~half the space and
    # assert we land clearly above that bound (bucketing must beat chance
    # on the planted same-label clusters)
    centroids = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    bucketed = similarity.assign_buckets(emb, centroids)
    approx = similarity.ivf_topk(bucketed, centroids, queries, k=5, nprobe=12)
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}

    recall = len(got & truth) / len(truth)
    assert recall >= 0.6, f"IVF recall {recall:.2f} below floor"
    # every query must still return k candidates
    per_q = approx.groupBy("query_id").count().collect()
    assert all(r["count"] == 5 for r in per_q)


def test_salted_agg_matches_direct(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    direct = {
        (r.l_returnflag): (round(r.qty, 2), r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("qty"), F.count("*").alias("n"))
        .collect()
    }
    salted = {
        (r.l_returnflag): (round(r.qty, 2), r.n)
        for r in skew.salted_agg(
            li, ["l_returnflag"], {"qty": ("l_quantity", "sum"), "n": ("l_quantity", "count")}
        ).collect()
    }
    assert direct == salted


def test_salted_broadcast_join_matches_plain(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    plain = li.join(orders, "l_orderkey").count()
    salted = skew.salted_broadcast_join(li, orders, "l_orderkey").count()
    assert plain == salted


def test_top_keys_diagnosis(spark):
    ev = load_table(spark, SF_SMALL, "events")
    top = skew.top_keys(ev, ["event_type"], n=3).collect()
    assert len(top) == 3
    assert top[0]["count"] >= top[1]["count"] >= top[2]["count"]


def test_salted_agg_rejects_non_decomposable(spark):
    import pytest

    li = load_table(spark, SF_SMALL, "lineitem")
    with pytest.raises(ValueError, match="non-decomposable"):
        skew.salted_agg(li, ["l_returnflag"], {"a": ("l_quantity", "avg")})


def test_simhash_near_duplicates_pairs(spark):
    from lakehouse_spark.operators import dedup

    base = (
        "the quick brown fox jumps over the lazy dog while the sun sets "
        "slowly behind the distant purple mountains of the old west"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("lazy", "sleepy")),  # one-token edit → near dup
            (3, "completely different content about spark shuffle partitions "
                "adaptive execution broadcast joins and columnar parquet scans"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.a_id, r.b_id): r.hamming
        for r in dedup.simhash_near_duplicates(
            docs, "doc_id", "text", max_hamming=3
        ).collect()
    }
    # pigeonhole banding guarantees every pair within the radius is found
    assert (1, 2) in pairs, f"near-dup pair not found: {pairs}"
    assert pairs[(1, 2)] <= 3
    assert all(k in ((1, 2),) for k in pairs), f"false positives: {pairs}"


def test_kmeans_centroids_improve_ivf(spark):
    from pyspark.sql import functions as F

    from lakehouse_spark.io import load_table
    from lakehouse_spark.operators import similarity

    emb = load_table(spark, SF_SMALL, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )

    def mean_best_sim(cent):
        assigned = similarity.assign_buckets(emb, cent)
        joined = assigned.join(
            cent.select(
                F.col("centroid_id").alias("bucket_id"),
                F.col("centroid").alias("cv"),
            ),
            "bucket_id",
        )
        return joined.select(
            F.avg(similarity.cosine("embedding", "cv")).alias("s")
        ).first()["s"]

    naive = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    learned = similarity.kmeans_centroids(emb, 20, iters=2)
    assert learned.count() <= 20
    assert len(learned.first()["centroid"]) == 64

    # Lloyd iterations must tighten clusters vs arbitrary corpus points
    assert mean_best_sim(learned) > mean_best_sim(naive)

    # and the learned index must still answer queries with decent recall
    queries = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    bucketed = similarity.assign_buckets(emb, learned)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            bucketed, learned, queries, k=5, nprobe=5
        ).collect()
    }
    recall = len(approx & truth) / len(truth)
    assert recall >= 0.6, f"learned-IVF recall {recall:.2f} below floor"


def test_curate_documents_reason_precedence(spark):
    """Each reject reason fires, and earlier reasons win over later ones."""
    from lakehouse_spark.operators.text import curate_documents

    prose = (
        "the quick brown fox jumps over the lazy dog and it runs on with "
        "that same easy stride for a while as the day is long"
    )
    rows = [
        (1, prose),                        # keep
        (2, "short text here"),            # too_short (3 words < 5)
        (3, " ".join(["zzzzzzzzzzzzzzzz"] * 8)),  # low_quality (no stopwords, 16-char words)
        (4, "el la de que en los se una por con amigos"),  # language (es)
        (5, prose + "."),                  # duplicate of 1 after normalization
        (6, "x! y? z. a,"),                # too_short wins over low_quality
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in curate_documents(df, "doc_id", "text").collect()
    }
    assert out[1].keep is True and out[1].reject_reason is None
    assert out[2].reject_reason == "too_short"
    assert out[3].reject_reason == "low_quality"
    assert out[4].reject_reason == "language" and out[4].lang_guess == "es"
    assert out[5].reject_reason == "duplicate"
    assert out[6].reject_reason == "too_short"  # precedence over low_quality


def test_catalog_ivf_config_recall_above_080(spark):
    """The shipped sim_ivf_topk config (learned C=64 quantizer, spill=2
    assignment, nprobe=16) must hold recall@5 >= 0.8 vs brute force — the
    round-2 verdict's acceptance bar. Deterministic: hash-ordered k-means
    init, fixed testdata (measured 0.88 at sf0.01, 0.94 at sf0.1)."""
    from lakehouse_spark.queries import CATALOG

    sf = "/root/testdata/sf0.01"
    truth = {
        (r.query_id, r.neighbor_id)
        for r in CATALOG["sim_topk_bruteforce"].build(spark, sf).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in CATALOG["sim_ivf_topk"].build(spark, sf).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"catalog IVF recall {recall:.2f} below 0.8"


def test_connected_components_chain_triangle_singleton(spark):
    from lakehouse_spark.operators.dedup import connected_components

    # chain 1-2-3 (transitive closure must merge all three), triangle
    # 10-11-12, isolated 99 (from all_nodes only)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12)], "a long, b long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,), (10,), (11,), (12,), (99,)], "n long")
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(
            pairs, "a", "b", all_nodes=nodes, node_col="n"
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_pq_encode_shape_and_adc_beats_chance(spark):
    """PQ codes: m indices in [0, ksub); ADC ranking from codes alone must
    far outrank random (chance recall@5 on 500 vectors ≈ 1%)."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    books = similarity.pq_train(emb, m=16, ksub=256, iters=4)
    assert books.shape == (16, 256, 4)
    encoded = similarity.pq_encode(emb, books)
    codes = encoded.select("pq_code").limit(50).collect()
    assert all(
        len(r.pq_code) == 16 and all(0 <= c < 256 for c in r.pq_code)
        for r in codes
    )
    adc = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_topk(encoded, books, queries, k=5).collect()
    }
    assert len(adc & truth) / len(truth) >= 0.4


def test_pq_rerank_recovers_exact_neighbors(spark):
    """Two-stage PQ (ADC shortlist + exact re-rank) must essentially match
    brute force; every query returns k ranked rows."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    books = similarity.pq_train(emb, m=16, ksub=256, iters=8)
    encoded = similarity.pq_encode(emb, books)
    rr = similarity.pq_topk_reranked(
        encoded, books, queries, emb, k=5, shortlist=4
    )
    got = rr.collect()
    hit = {(r.query_id, r.neighbor_id) for r in got}
    assert len(hit & truth) / len(truth) >= 0.9
    per_q = {}
    for r in got:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_ivfpq_composition_recall(spark):
    """IVF-PQ end-to-end: recall is bounded by the IVF probe (PQ+re-rank is
    near-lossless inside the probed set), so it must sit at-or-near the
    plain-IVF recall for the same probe config, and well above chance."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    centroids = similarity.kmeans_centroids(emb, n_clusters=25, iters=2)
    bucketed = similarity.assign_buckets(emb, centroids, spill=2)
    books = similarity.pq_train(emb, m=16, ksub=256, iters=4)
    be = similarity.pq_encode(emb, books).join(
        bucketed.select("vec_id", "bucket_id"), "vec_id"
    )
    out = similarity.ivfpq_topk(
        be, books, centroids, queries, corpus=emb, k=5, nprobe=12, shortlist=4
    ).collect()
    got = {(r.query_id, r.neighbor_id) for r in out}
    assert len(got & truth) / len(truth) >= 0.6
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_ann_index_persists_and_reloads(spark, tmp_path):
    """AnnIndex: build writes the three versioned tables; a FRESH instance
    over the same root (new process analog) searches identically; re-ranked
    results track brute force."""
    from lakehouse_spark.operators.similarity import AnnIndex

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    idx = AnnIndex(spark, str(tmp_path / "ann"))
    idx.build(emb, n_clusters=25, m=16, ksub=64, kmeans_iters=2, pq_iters=4)

    r1 = {(r.query_id, r.neighbor_id, r.rank)
          for r in idx.search(queries, k=5, nprobe=12, corpus=emb).collect()}

    idx2 = AnnIndex(spark, str(tmp_path / "ann"))  # reload from disk
    r2 = {(r.query_id, r.neighbor_id, r.rank)
          for r in idx2.search(queries, k=5, nprobe=12, corpus=emb).collect()}
    assert r1 == r2 and len(r1) == 25

    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    got = {(q, n) for q, n, _ in r1}
    assert len(got & truth) / len(truth) >= 0.6


def test_dedup_index_screens_and_extends(spark, tmp_path):
    """DedupIndex: near-dups of the indexed corpus screen as duplicates,
    novel docs pass; admit() extends the index incrementally; a fresh
    instance over the same root behaves identically (persistence)."""
    from lakehouse_spark.operators.dedup import DedupIndex

    base = ("spark shuffles the hash partitioned rows " * 6).strip()
    other = ("a completely different story about rivers and owls " * 6).strip()

    def docs(*rows):
        return spark.createDataFrame(list(rows), "doc_id long, text string")

    idx = DedupIndex(spark, str(tmp_path / "lsh"))
    idx.build(docs((1, base)))

    screened = {
        r.doc_id: r.is_duplicate
        for r in idx.screen(docs((10, base + " tail"), (11, other))).collect()
    }
    assert screened == {10: True, 11: False}

    idx.admit(docs((11, other)))
    fresh = DedupIndex(spark, str(tmp_path / "lsh"))  # reload from disk
    screened2 = {
        r.doc_id: r.is_duplicate
        for r in fresh.screen(docs((20, other + " more"), (21, base))).collect()
    }
    assert screened2 == {20: True, 21: True}


def test_ann_index_add_makes_new_vectors_searchable(spark, tmp_path):
    """Incremental index maintenance: vectors added after build are found
    by search without retraining; prior contents are untouched."""
    from lakehouse_spark.operators.similarity import AnnIndex

    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    idx = AnnIndex(spark, str(tmp_path / "annadd"))
    idx.build(old, n_clusters=25, m=16, ksub=64, kmeans_iters=2, pq_iters=4)
    before = idx.codes.read().select("vec_id").distinct().count()
    v_before = idx.codes.current_version()
    report = idx.add(new)
    assert idx.codes.read().select("vec_id").distinct().count() == 500
    assert before == 400
    # versioned append: exactly one commit, with the drift report in meta
    assert idx.codes.current_version() == v_before + 1
    assert report["added"] == 100
    assert report["baseline_fit"] is not None
    # same-distribution batch: quantization error ~ the training corpus',
    # so no retrain flag (drift_ratio near 1)
    assert report["drift_ratio"] is not None
    assert report["retrain_recommended"] is False
    meta = idx.codes.version_meta()
    assert meta["add_fit"] and meta["add_drift_ratio"]

    # recall@5 over the ADDED vectors as queries: the no-retrain add must
    # hold full-probe recall (round-8 ask: >= 0.95 after add)
    qs = emb.filter(F.col("vec_id") >= 490)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_bruteforce(emb, qs, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in idx.search(
            qs, k=5, nprobe=25, shortlist=8, corpus=emb
        ).collect()
    }
    assert len(got & truth) / len(truth) >= 0.95


def test_ann_index_add_drift_guard(spark, tmp_path):
    """add()'s drift report: an in-distribution batch reads drift ~1 (no
    retrain), an out-of-distribution batch (a direction the quantizer
    never trained on) quantizes measurably worse and flips
    retrain_recommended. Built on a sharply clustered corpus so the
    baseline fit is meaningful (near-uniform data has nothing to drift
    FROM — its quantizer fits poorly by construction)."""
    import numpy as np

    from lakehouse_spark.operators.similarity import AnnIndex

    rng = np.random.default_rng(5)
    dim = 16
    centers = rng.standard_normal((8, dim)) * 4.0

    def batch(start, n, cs):
        return spark.createDataFrame(
            [
                (
                    start + i,
                    (
                        cs[i % len(cs)] + rng.standard_normal(dim) * 0.1
                    ).tolist(),
                )
                for i in range(n)
            ],
            "vec_id long, embedding array<double>",
        )

    idx = AnnIndex(spark, str(tmp_path / "drift"))
    idx.build(
        batch(0, 400, centers),
        n_clusters=8,
        m=4,
        ksub=16,
        kmeans_iters=3,
        pq_iters=2,
    )
    ok = idx.add(batch(1000, 50, centers))  # same clusters
    assert ok["drift_ratio"] is not None
    assert ok["retrain_recommended"] is False
    off_center = rng.standard_normal((1, dim)) * 4.0  # unseen direction
    bad = idx.add(batch(2000, 50, off_center))
    assert bad["drift_ratio"] > ok["drift_ratio"]
    assert bad["retrain_recommended"] is True
    # drift history is queryable from the version log
    meta = idx.codes.version_meta()
    assert float(meta["add_drift_ratio"]) == bad["drift_ratio"]


def test_cross_corpus_minhash_agrees_with_dedup_index(spark, tmp_path):
    """The batch cross-corpus join and the persisted DedupIndex must be two
    faces of the SAME pipeline: candidate pairs recovered from the index's
    band relation + the shared exact-Jaccard verify reproduce the batch
    result exactly, and doc-level screen() flags a superset of the
    verified incoming docs (LSH candidates before verification)."""
    from pyspark.sql import functions as F

    from lakehouse_spark.io import load_table
    from lakehouse_spark.operators import dedup

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    existing = docs.filter(F.col("doc_id") < 80)
    incoming = docs.filter(F.col("doc_id") >= 80)

    batch = {
        (r.existing_id, r.incoming_id)
        for r in dedup.minhash_cross_corpus(
            existing, incoming, "doc_id", "text", min_jaccard=0.5
        ).collect()
    }

    ix = dedup.DedupIndex(spark, str(tmp_path / "ix"))
    ix.build(existing)
    # pair recovery through the PERSISTED band relation
    inc_bands = dedup.band_signatures(incoming, "doc_id", "text")
    cand = (
        ix.store.read()
        .select(F.col("id").alias("existing_id"), "band", "band_sig")
        .join(
            inc_bands.select(F.col("id").alias("incoming_id"), "band", "band_sig"),
            ["band", "band_sig"],
        )
        .select("existing_id", "incoming_id")
        .dropDuplicates(["existing_id", "incoming_id"])
    )
    sh_e = dedup.shingle_frame(existing, "doc_id", "text", 3).select(
        F.col("id").alias("existing_id"), F.col("sh").alias("e_sh")
    )
    sh_i = dedup.shingle_frame(incoming, "doc_id", "text", 3).select(
        F.col("id").alias("incoming_id"), F.col("sh").alias("i_sh")
    )
    jac = (
        F.size(F.array_intersect("e_sh", "i_sh"))
        / F.size(F.array_union("e_sh", "i_sh"))
    )
    via_index = {
        (r.existing_id, r.incoming_id)
        for r in cand.join(sh_e, "existing_id")
        .join(sh_i, "incoming_id")
        .filter(jac >= 0.5)
        .collect()
    }
    assert batch == via_index

    screened = {
        r.doc_id
        for r in ix.screen(incoming).filter("is_duplicate").collect()
    }
    dedup.release_caches()
    assert {i for _, i in batch} <= screened


def test_pca_fit_transform_properties(spark):
    """PCA over the embeddings: components orthonormal and
    variance-ordered, the k-dim projection reconstructs the corpus better
    than a random k-dim projection, and transform is deterministic."""
    import numpy as np
    from pyspark.sql import functions as F

    from lakehouse_spark.io import load_table
    from lakehouse_spark.operators.similarity import pca_fit, pca_transform

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    mean, comps = pca_fit(emb, k=16)
    C = np.array(comps)
    assert C.shape == (16, 64)
    # orthonormal rows
    assert np.allclose(C @ C.T, np.eye(16), atol=1e-8)

    X = np.vstack(
        [r.embedding for r in emb.select(F.col("embedding").cast("array<double>").alias("embedding")).collect()]
    )
    Xc = X - np.array(mean)
    # variance along components is non-increasing
    var = ((Xc @ C.T) ** 2).mean(axis=0)
    assert all(a >= b - 1e-9 for a, b in zip(var, var[1:]))

    # reconstruction beats a deterministic 'random' orthonormal basis
    rng = np.random.default_rng(3)
    R = np.linalg.qr(rng.standard_normal((64, 16)))[0].T
    err_pca = ((Xc - (Xc @ C.T) @ C) ** 2).sum()
    err_rand = ((Xc - (Xc @ R.T) @ R) ** 2).sum()
    assert err_pca < err_rand

    # Catalyst transform equals the numpy projection
    t = pca_transform(emb, mean, comps).select("vec_id", "pca").collect()
    got = {r.vec_id: np.array(r.pca) for r in t}
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    want = Xc @ C.T
    for i, vid in enumerate(ids):
        assert np.allclose(got[vid], want[i], atol=1e-9)


def test_residual_ivfpq_recall_and_approximation(spark):
    """Residual IVF-PQ (FAISS shape): codebooks trained/encoded on
    vector−centroid residuals, search scores q·centroid + ADC(residual).
    The compressed-domain score must approximate true cosine BETTER than
    raw-vector PQ at the same code budget, and end-to-end recall holds the
    composition floor."""
    import numpy as np

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_bruteforce(emb, queries, k=5).collect()
    }
    centroids = similarity.kmeans_centroids(emb, n_clusters=25, iters=2)
    bucketed = similarity.assign_buckets(emb, centroids, spill=2)
    books_r = similarity.pq_train(emb, m=16, ksub=256, iters=4, centroids=centroids)
    be_r = similarity.pq_encode(
        bucketed.select("vec_id", "embedding", "bucket_id"),
        books_r,
        centroids=centroids,
    )
    out = similarity.ivfpq_topk(
        be_r, books_r, centroids, queries, corpus=emb, k=5, nprobe=12,
        shortlist=4, residual=True,
    ).collect()
    got = {(r.query_id, r.neighbor_id) for r in out}
    assert len(got & truth) / len(truth) >= 0.6
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())

    # compressed-domain scores (no re-rank): q·centroid + ADC(residual)
    # must reconstruct true cosine closely — the decomposition is only
    # valid if encode-side and search-side agree on each row's bucket.
    # (The recall ADVANTAGE over raw-vector PQ is asserted at sf0.1 in the
    # bench, where codebooks can't memorize the corpus.)
    approx_r = similarity.ivfpq_topk(
        be_r, books_r, centroids, queries, k=5, nprobe=12, residual=True
    ).collect()
    V = {r.vec_id: np.asarray(r.embedding, dtype=float)
         for r in emb.collect()}
    for k_ in V:
        V[k_] = V[k_] / max(np.linalg.norm(V[k_]), 1e-12)
    errs = [abs(r.score - float(V[r.query_id] @ V[r.neighbor_id]))
            for r in approx_r]
    assert sum(errs) / len(errs) < 0.05


def test_ann_index_residual_flag_roundtrips(spark, tmp_path):
    """The build's residual mode persists in the codes manifest: fresh
    instances replay the right scoring scheme, and add() encodes new
    vectors with the build's scheme."""
    from lakehouse_spark.operators.similarity import AnnIndex

    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") >= 20)
    new = emb.filter(F.col("vec_id") < 20)

    idx = AnnIndex(spark, str(tmp_path / "res"))
    idx.build(old, n_clusters=25, m=16, ksub=64, kmeans_iters=2, pq_iters=4)
    assert AnnIndex(spark, str(tmp_path / "res"))._is_residual() is True

    raw = AnnIndex(spark, str(tmp_path / "raw"))
    raw.build(old, n_clusters=25, m=16, ksub=64, kmeans_iters=2, pq_iters=4,
              residual=False)
    assert AnnIndex(spark, str(tmp_path / "raw"))._is_residual() is False

    idx.add(new)
    queries = emb.filter(F.col("vec_id") < 3)
    hits = AnnIndex(spark, str(tmp_path / "res")).search(
        queries, k=5, nprobe=12, corpus=emb
    )
    assert hits.filter(F.col("neighbor_id") < 20).count() > 0  # added rows found


def test_adaptive_skew_join_equals_plain_join(spark):
    """Probe-and-split skew join: hot keys salted, cold keys plain, union
    equals the plain join exactly — for inner AND left, including fact
    keys missing from the dim and null fact keys."""
    from lakehouse_spark.operators.skew import adaptive_skew_join

    rows = [(i, "hot", i * 1.0) for i in range(500)]          # one hot key
    rows += [(i, f"k{i % 20}", i * 1.0) for i in range(200)]   # cold keys
    rows += [(998, "orphan", 1.0), (999, None, 2.0)]           # no dim match
    fact = spark.createDataFrame(rows, "id long, k string, x double")
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{j}", f"D{j}") for j in range(20)],
        "k string, label string",
    )

    for how in ("inner", "left"):
        got = adaptive_skew_join(
            fact, dim, "k", n_salts=4, hot_multiplier=2.0, min_hot_rows=50,
            how=how,
        )
        want = fact.join(dim, "k", how)
        snap = lambda df: sorted(
            (r.id, r.k, r.x, r.label) for r in df.collect()
        )
        assert snap(got) == snap(want), how

    # degenerate inputs: no hot keys at all -> plain-join fallback
    flat = spark.createDataFrame(
        [(i, f"k{i}", 0.0) for i in range(50)], "id long, k string, x double"
    )
    out = adaptive_skew_join(flat, dim, "k", min_hot_rows=1000)
    assert out.count() == flat.join(dim, "k").count()

    import pytest as _pytest
    with _pytest.raises(ValueError, match="inner/left"):
        adaptive_skew_join(fact, dim, "k", how="right")


def test_semdedup_policy_and_invariants(spark):
    """SemDeDup on constructed vectors: near-identical vectors land in one
    cluster and only the smallest id survives; orthogonal vectors all
    survive. Output covers every input id exactly once, and the kept set
    is exactly {id : no smaller-id near-dup in the same cluster}."""
    import math

    from lakehouse_spark.operators.dedup import semdedup

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (0, unit(0.0)),        # group A
        (1, unit(0.001)),      # ~dup of 0
        (2, unit(0.002)),      # ~dup of 0 and 1
        (10, unit(math.pi / 2)),   # group B, orthogonal to A
        (11, unit(math.pi / 2 + 0.001)),  # ~dup of 10
        (20, [0.0, 0.0, 1.0, 0.0]),  # loner
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(df, "vec_id", "embedding", n_clusters=3, tau=0.999).collect()
    assert sorted(r.vec_id for r in out) == [0, 1, 2, 10, 11, 20]
    kept = {r.vec_id for r in out if r.kept}
    cluster = {r.vec_id: r.cluster_id for r in out}
    # groups that share a cluster collapse to their smallest id
    if cluster[0] == cluster[1] == cluster[2]:
        assert {0, 1, 2} & kept == {0}
    if cluster[10] == cluster[11]:
        assert {10, 11} & kept == {10}
    assert 20 in kept  # loner always survives
    # deterministic across runs
    again = semdedup(df, "vec_id", "embedding", n_clusters=3, tau=0.999).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_semdedup_auto_mode_switches_to_rplsh_at_scale(spark):
    """Round-8 scale fix: semdedup(n_clusters=None) uses seed-argmax
    assignment on small corpora (oracle-replayable) but switches to
    random-hyperplane bucketing above ~4096 rows, where the flat argmax's
    O(n*k) assignment would be quadratic. Pin: the large path still drops
    exact duplicates (cos=1 >= tau), keeps the smallest id of each pair,
    and every row comes back exactly once."""
    import numpy as np

    from lakehouse_spark.operators.dedup import semdedup

    rng = np.random.default_rng(11)
    base = rng.standard_normal((5000, 8)).astype(float)
    rows = [(i, base[i].tolist()) for i in range(5000)]
    # exact duplicates of ids 0..49 at ids 10000..10049
    rows += [(10_000 + i, base[i].tolist()) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semdedup(df, "vec_id", "embedding", n_clusters=None, tau=0.999)
    got = {r.vec_id: (r.cluster_id, r.kept) for r in out.collect()}
    assert len(got) == 5050  # every row classified exactly once
    for i in range(50):
        # identical vectors share a sign signature -> same cluster,
        # and the larger id of the duplicate pair is dropped
        assert got[i][0] == got[10_000 + i][0]
        assert got[i][1] is True
        assert got[10_000 + i][1] is False


def test_spread_noop_on_healthy_layout_and_fans_out_narrow_scans(spark):
    """spread(): scale-adaptive compute-spread contract. On an input that
    already carries >= defaultParallelism partitions it returns the input
    UNCHANGED (no exchange at 100 TB multi-split scale); an
    under-partitioned input (single file / unsplittable codec) is hash-
    repartitioned up to defaultParallelism with rows preserved."""
    target = spark.sparkContext.defaultParallelism

    healthy = spark.range(10_000).repartition(target, "id")
    assert skew.spread(healthy, "id") is healthy

    narrow = spark.range(10_000).coalesce(1)
    out = skew.spread(narrow, "id")
    assert out.rdd.getNumPartitions() == target
    assert out.count() == 10_000


def test_spread_noop_on_exchange_plans_and_streaming(spark):
    """spread()'s partition probe must never finalize an AQE plan: touching
    .rdd on a plan with an Exchange eagerly runs the upstream stages and
    that work is discarded on re-execution (advice r12). So spread is a
    structural no-op (same object back) on any exchange-carrying input —
    which is also semantically right: post-exchange frames already carry
    session-sized partitioning. Streaming frames (where .rdd raises) are
    likewise returned untouched."""
    from pyspark.sql import functions as F

    aggregated = (
        spark.range(1_000)
        .coalesce(1)
        .groupBy((F.col("id") % 7).alias("k"))
        .count()
    )
    assert skew.spread(aggregated, "k") is aggregated

    joined = spark.range(100).join(
        F.broadcast(spark.range(10).withColumnRenamed("id", "jd")),
        F.col("id") == F.col("jd"),
    )
    assert skew.spread(joined, "id") is joined

    stream = spark.readStream.format("rate").load()
    assert skew.spread(stream, "value") is stream


def test_band_signatures_spread_input_false_same_rows_no_fanout(spark):
    """Micro-batch append paths (DedupIndex.admit, dedup_ingest_sink) opt
    out of the compute spread: the banding pipeline is fully narrow, so a
    single-partition batch stays single-partition (its store segment is
    ONE file, not one per non-empty partition). Band rows are identical
    either way."""
    from lakehouse_spark.operators.dedup import band_signatures

    docs = spark.createDataFrame(
        [(i, f"words repeated for shingling in document number {i} " * 4)
         for i in range(4)],
        "id long, text string",
    ).coalesce(1)

    flat = band_signatures(docs, "id", "text", spread_input=False)
    assert flat.rdd.getNumPartitions() == 1

    spread_bands = band_signatures(docs, "id", "text")
    assert (
        spread_bands.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

    key = lambda r: (r.id, r.band, tuple(r.band_sig))
    assert sorted(map(key, flat.collect())) == sorted(
        map(key, spread_bands.collect())
    )


def test_dedup_index_admit_writes_one_segment_file(spark, tmp_path):
    """admit() of a tiny single-partition batch adds exactly ONE parquet
    data file to the store (guide §6: no per-core small-file fan-out on
    append paths)."""
    from lakehouse_spark.operators.dedup import DedupIndex

    def docs(*rows):
        return spark.createDataFrame(
            list(rows), "doc_id long, text string"
        ).coalesce(1)

    root = tmp_path / "lsh"
    idx = DedupIndex(spark, str(root))
    idx.build(docs((1, "spark shuffles the hash partitioned rows " * 6)))

    before = set(root.rglob("*.parquet"))
    idx.admit(docs(
        (2, "a completely different story about rivers and owls " * 6),
        (3, "another novel document about mountain weather patterns " * 6),
    ))
    added = set(root.rglob("*.parquet")) - before
    assert len(added) == 1


def test_dedup_index_build_writes_one_segment_file(spark, tmp_path):
    """build() of a small single-partition corpus initializes the store
    with exactly ONE parquet data file — the compute spread must not fan
    the first segment into one file per core (advice r12)."""
    from lakehouse_spark.operators.dedup import DedupIndex

    corpus = spark.createDataFrame(
        [(i, f"document number {i} with enough words to shingle " * 4)
         for i in range(6)],
        "doc_id long, text string",
    ).coalesce(1)

    root = tmp_path / "lsh_build"
    idx = DedupIndex(spark, str(root))
    idx.build(corpus)
    files = list(root.rglob("*.parquet"))
    assert len(files) == 1

    # the index still works end to end
    probe = spark.createDataFrame(
        [(100, "document number 2 with enough words to shingle " * 4),
         (101, "totally unrelated text about glaciers and tides " * 4)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.is_duplicate for r in idx.screen(probe).collect()}
    assert got[100] is True and got[101] is False


def test_label_broadcast_cap_scales_with_node_width(spark):
    """The connected-components broadcast gate is width-aware: numeric
    node ids keep the 2M-row cap; caller-supplied string/binary ids (URLs,
    paths — unbounded width, and the explicit broadcast hint bypasses
    autoBroadcastJoinThreshold) get an 8x smaller cap (advice r12)."""
    from pyspark.sql import types as T

    from lakehouse_spark.operators.dedup import (
        _BROADCAST_LABEL_ROWS,
        _BROADCAST_LABEL_ROWS_WIDE,
        _label_broadcast_cap,
    )

    assert _label_broadcast_cap(T.LongType()) == _BROADCAST_LABEL_ROWS
    assert _label_broadcast_cap(T.IntegerType()) == _BROADCAST_LABEL_ROWS
    assert _label_broadcast_cap(T.StringType()) == _BROADCAST_LABEL_ROWS_WIDE
    assert _label_broadcast_cap(T.BinaryType()) == _BROADCAST_LABEL_ROWS_WIDE

    # string-id components still converge correctly through the loop
    from lakehouse_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("u/a", "u/b"), ("u/b", "u/c"), ("u/x", "u/y")],
        "a string, b string",
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, "a", "b").collect()
    }
    assert got == {
        "u/a": "u/a", "u/b": "u/a", "u/c": "u/a", "u/x": "u/x", "u/y": "u/x",
    }

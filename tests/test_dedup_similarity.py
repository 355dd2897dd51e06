"""Unit tests for the training-data operators: dedup family, ANN,
text stats — with planted ground truth."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from log_ship_elastic_postfix_spark.functions import textstats
from log_ship_elastic_postfix_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),      # exact dup of 0
        (2, "THE  quick Brown fox jumps over the lazy dog"),     # normalized dup
        (3, "the quick brown fox jumps over the lazy cat"),      # near dup
        (4, "completely different content about spark pipelines"),
        (5, "completely different content about flink pipelines"),  # near of 4
        (6, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["keeper_id"] == 0
    assert g["group_size"] == 3
    assert g["member_ids"] == [0, 1, 2]


def test_duplicate_assignments_scale_shape(spark, docs):
    out = {(r["doc_id"], r["keeper_id"])
           for r in dedup.duplicate_assignments(docs).collect()}
    assert out == {(1, 0), (2, 0)}  # dup cluster {0,1,2}, keeper=min


def test_connected_components_chain_and_islands(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain → one component, keeper 1
         (10, 11),                    # island pair
         (20, 22), (21, 22)],         # vee → keeper 20
        "id_a long, id_b long")
    out = {r["id"]: r["cluster_id"]
           for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_jaccard_pairs_exact(spark, docs):
    pairs = spark.createDataFrame(
        [(0, 3), (4, 5), (0, 6)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.jaccard_pairs(docs, pairs, threshold=0.0).collect()}
    # doc0 vs doc3: 9 tokens → 7 shared 3-grams of 7 total each... verify >0.5
    assert out[(0, 3)] > 0.5
    assert out[(4, 5)] > 0.3
    assert out[(0, 6)] == 0.0


def test_minhash_lsh_finds_planted_dups(spark, docs):
    out = dedup.near_duplicates_minhash(docs, threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # the exact-dup cluster must always collide in every band
    assert (0, 1) in found and (0, 2) in found and (1, 2) in found


def test_simhash_near_duplicates(spark, docs):
    out = dedup.simhash_verified_near_duplicates(docs, threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in found         # identical → hamming 0
    assert (1, 2) in found         # normalized-identical


@pytest.fixture(scope="module")
def vecs(spark):
    # 8 deterministic 4-d vectors with a planted near-dup pair (0,1)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),   # ≈ vec 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.7, 0.7, 0.0, 0.0]),
        (5, [0.0, 0.7, 0.7, 0.0]),
        (6, [-1.0, 0.0, 0.0, 0.0]),
        (7, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_matches_numpy(spark, vecs):
    import numpy as np
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=float)
            for r in vecs.collect()}
    out = similarity.brute_force_topk(vecs, k=1).collect()
    for r in out:
        q = rows[r["query_id"]]
        best_id, best_s = None, -2.0
        for nid, v in rows.items():
            if nid == r["query_id"]:
                continue
            s = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            if s > best_s + 1e-9 or (abs(s - best_s) < 1e-9 and nid < best_id):
                best_id, best_s = nid, s
        assert r["nbr_id"] == best_id, r
        assert math.isclose(r["score"], best_s, abs_tol=1e-4)


def test_ann_finds_planted_neighbor(spark, vecs):
    out = similarity.ann_topk(vecs, dim=4, k=2, n_tables=6, n_bits=2)
    by_query = {}
    for r in out.collect():
        by_query.setdefault(r["query_id"], []).append(r["nbr_id"])
    # vec 1 is nearly identical to vec 0 — LSH must co-bucket them
    assert 1 in by_query.get(0, [])


def test_ivf_recall_monotone_in_nprobe(spark):
    """IVF recall must rise with n_probe and reach 1.0 at exhaustive
    probe (the parameter's contract; real clustered corpora reach 1.0
    far earlier)."""
    import pyspark.sql.functions as F

    e = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
         .select("vec_id",
                 F.col("embedding").cast("array<double>").alias("embedding")))
    qs = e.filter(F.col("vec_id") < 20)
    brute = {(r["query_id"], r["nbr_id"])
             for r in similarity.brute_force_topk(e, k=3, queries=qs)
             .collect()}
    recalls = []
    for npr in (2, 8):
        got = {(r["query_id"], r["nbr_id"])
               for r in similarity.ivf_topk(
                   e, k=3, n_centroids=8, n_probe=npr, queries=qs)
               .collect()}
        recalls.append(len(got & brute) / len(brute))
    assert recalls[0] <= recalls[1]
    assert recalls[1] == 1.0  # n_probe == n_centroids ⇒ exact


def test_embedding_near_duplicates(spark, vecs):
    out = similarity.embedding_near_duplicates(
        vecs, dim=4, threshold=0.99, n_tables=8, n_bits=2)
    found = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (0, 1) in found


def test_topk_ties_rank_by_neighbor_id(spark):
    """The three top-k operators share one re-rank: on positive
    multiples of one vector every pair is a candidate (one sign bucket,
    every IVF cell probed) and scores 1.0, so all three return the same
    rows, the tied neighbours ranked by ascending id."""
    df = spark.createDataFrame(
        [(i, [m * 1.0, m * 2.0, m * 0.5]) for i, m in
         enumerate([3, 1, 4, 1, 5, 9, 2, 6])],
        "vec_id long, embedding array<double>")

    def rows(out):
        return sorted(tuple(r) for r in out.select(
            "query_id", "nbr_id", "score", "rank").collect())

    want = [(q, n, 1.0, r + 1) for q in range(8)
            for r, n in enumerate([i for i in range(8) if i != q][:3])]
    assert rows(similarity.brute_force_topk(df, k=3)) == want
    assert rows(similarity.ann_topk(df, dim=3, k=3, n_tables=2,
                                    n_bits=1)) == want
    assert rows(similarity.ivf_topk(df, k=3, n_centroids=4,
                                    n_probe=4)) == want


def test_embedding_near_duplicates_skips_degenerate_vectors(spark,
                                                            monkeypatch):
    """NULL and all-zero vectors share one sign bucket in every table;
    they must not reach candidate generation (n of them would make
    n(n-1)/2 pairs that can never pass the threshold)."""
    rows = ([(i, None) for i in range(6)]
            + [(6 + i, [0.0, 0.0, 0.0, 0.0]) for i in range(4)]
            + [(10, [1.0, 0.0, 0.0, 0.0]), (11, [0.999, 0.01, 0.0, 0.0]),
               (12, [0.0, 1.0, 0.0, 0.0])])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seen = []
    orig = similarity._candidate_id_pairs

    def spy(*a, **k):
        pairs = orig(*a, **k)
        seen.extend(tuple(r) for r in pairs.collect())
        return pairs

    monkeypatch.setattr(similarity, "_candidate_id_pairs", spy)
    out = similarity.embedding_near_duplicates(
        df, dim=4, threshold=0.9, n_tables=4, n_bits=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(10, 11)}
    assert (10, 11) in seen
    assert not [p for p in seen if min(p) < 10], seen


@pytest.mark.parametrize("threshold", [0.0, -0.5, 1.5])
def test_embedding_near_duplicates_rejects_threshold_before_any_job(
        spark, vecs, threshold):
    def call():
        with pytest.raises(ValueError, match="threshold must be in"):
            similarity.embedding_near_duplicates(vecs, dim=4,
                                                 threshold=threshold)

    assert not _jobs_run_by(spark, call)


def test_textstats_basics(spark):
    df = spark.createDataFrame(
        [(1, "The quick fox."), (2, ""), (3, "a b c d e")],
        "id long, text string")
    out = {r["id"]: r for r in df.select(
        "id",
        textstats.token_count(F.col("text")).alias("n"),
        textstats.stopword_ratio(F.col("text")).alias("sw"),
        textstats.lang_id(F.col("text")).alias("lang"),
        textstats.fingerprint_md5(F.col("text")).alias("fp"),
        textstats.rolling_hash(F.col("text")).alias("rh"),
    ).collect()}
    assert out[1]["n"] == 3
    assert out[2]["n"] == 0
    assert out[1]["sw"] == pytest.approx(1 / 3)
    assert out[1]["lang"] == "en"
    assert out[2]["lang"] == "unknown"
    # rolling hash: deterministic polynomial over bytes
    expect = 0
    p = 1
    for ch in "a b c d e":
        expect = (expect + ord(ch) * p) % ((1 << 31) - 1)
        p = (p * 31) % ((1 << 31) - 1)
    assert out[3]["rh"] == expect
    # identical content → identical fingerprints
    df2 = spark.createDataFrame([(1, "  the   QUICK fox. ")], "id long, text string")
    fp2 = df2.select(textstats.fingerprint_md5(F.col("text")).alias("fp")) \
             .collect()[0]["fp"]
    assert fp2 == out[1]["fp"]


def test_minhash_banding_rejects_non_divisible_k_at_call(spark):
    """bands must divide k: the error is raised where the column or
    frame is built, on the driver, before any job runs."""
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="bands dividing k"):
        dedup.minhash_band_buckets(F.col("text"), k=32, bands=5)
    with pytest.raises(ValueError, match="bands dividing k"):
        dedup.minhash_lsh_candidates(df, k=10, bands=4)


def test_ivf_assign_all_null_batch(spark):
    """An Arrow batch holding only NULL vectors is assigned with the
    centroid width (zero vectors, score 0) instead of failing the
    task."""
    df = spark.createDataFrame(
        [(i, None) for i in range(4)],
        "vec_id long, embedding array<double>").coalesce(1)
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    got = similarity.ivf_topk(df, k=2, n_probe=2,
                              centroids=cents).collect()
    assert got and all(r["score"] == 0.0 for r in got)


def test_hash64_sets_every_bit(spark):
    """All 64 bit positions of the gram id and of the SimHash are live:
    each is set at least once over random windows and random docs
    (two packed 31-bit lanes alone leave bits 31 and 63 at 0)."""
    import numpy as np

    rng = np.random.default_rng(7)
    th = rng.integers(0, 2**32, size=2000, dtype=np.int64)  # crc32 range
    ids = dedup._hash64(th, dedup._lanes(3))
    assert int(np.bitwise_or.reduce(ids)) == 2**64 - 1
    words = [f"w{i}" for i in range(500)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(words, 12))) for i in range(200)],
        "doc_id long, text string")
    seen = 0
    for r in docs.select(dedup.simhash64(F.col("text")).alias("h")).collect():
        seen |= r["h"] & (2**64 - 1)
    assert seen == 2**64 - 1


def _jobs_run_by(spark, fn):
    """Ids of the Spark jobs ``fn()`` starts (its own job group)."""
    sc = spark.sparkContext
    sc.setJobGroup("param-check", "parameter check")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup("param-check")


@pytest.mark.parametrize("kwargs, match", [
    ({"k": 0}, "k must be >= 1"),
    ({"n_centroids": 0}, "n_centroids must be >= 1"),
    ({"n_probe": 0}, "n_probe must be >= 1"),
    ({"centroids": [1.0, 0.0, 0.0, 0.0]}, r"shape \(C, dim\)"),
    ({"centroids": [[]]}, r"shape \(C, dim\)"),
], ids=["k", "n_centroids", "n_probe", "centroids_1d", "centroids_empty"])
def test_ivf_topk_rejects_bad_parameter_before_any_job(spark, vecs, kwargs,
                                                       match):
    """Bad IVF parameters raise ValueError on the driver when the call
    is made (an assert would vanish under ``python -O``; n_probe=0 used
    to return no rows), before any job runs."""
    def call():
        with pytest.raises(ValueError, match=match):
            similarity.ivf_topk(vecs, **kwargs)

    assert not _jobs_run_by(spark, call)


def test_ivf_topk_rejects_empty_corpus_at_call(spark):
    """Sampling centroids from an empty corpus raises ValueError at the
    call, not an assert."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty corpus"):
        similarity.ivf_topk(empty, n_centroids=2, n_probe=1)


def test_semantic_dedup_rejects_zero_norm_centroid_before_any_job(spark,
                                                                  vecs):
    def call():
        with pytest.raises(ValueError, match="zero-norm centroid 1"):
            similarity.semantic_dedup(
                vecs, centroids=[(0, [1.0, 0.0, 0.0, 0.0]),
                                 (1, [0.0, 0.0, 0.0, 0.0])])

    assert not _jobs_run_by(spark, call)

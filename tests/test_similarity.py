"""Similarity-search semantics: exact top-k ground truth, ANN recall,
deterministic hyperplanes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from instagram_data_pipeline_spark.extensions.similarity import (
    ann_lsh_topk,
    cosine_topk,
    hyperplanes,
    near_dup_pairs,
)
from instagram_data_pipeline_spark.io import load_testdata


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_testdata(spark, sf_dir, "embeddings")


def _queries(emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def test_cosine_topk_self_similarity(spark, emb):
    # query against the FULL corpus: each query's own vector must rank 1
    # with cosine 1.0
    res = cosine_topk(emb, _queries(emb), k=1).collect()
    assert len(res) == 5
    for r in res:
        assert r.vec_id == r.query_id and r.cosine == pytest.approx(1.0)


def test_cosine_topk_ordering_and_rank(emb):
    corpus = emb.filter(F.col("vec_id") >= 5)
    res = cosine_topk(corpus, _queries(emb), k=5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        sims = [r.cosine for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]


def test_ann_results_are_subset_of_bucket_and_true_cosines(emb):
    corpus = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r.query_id, r.vec_id): r.cosine
        for r in cosine_topk(corpus, _queries(emb), k=100).collect()
    }
    approx = ann_lsh_topk(corpus, _queries(emb), k=5, num_planes=4).collect()
    # ANN may miss neighbors (different bucket) but must never invent
    # scores: every reported cosine equals the exact one
    for r in approx:
        assert exact[(r.query_id, r.vec_id)] == r.cosine


def test_ann_planted_duplicate_found(spark, emb):
    # a query identical to a corpus vector lands in the same bucket by
    # construction -> ANN must return it at rank 1
    dup_q = emb.filter(F.col("vec_id") == 100).select(
        F.lit(999).alias("query_id"), "embedding"
    )
    res = ann_lsh_topk(emb, dup_q, k=1, num_planes=8).collect()
    assert len(res) == 1 and res[0].vec_id == 100
    assert res[0].cosine == pytest.approx(1.0)


def test_ivf_topk_scores_exact_and_recalls(spark, sf_dir, emb):
    from instagram_data_pipeline_spark.queries import load_all

    reg = load_all()
    exact = {
        (r.query_id, r.vec_id): r.cosine
        for r in reg["cosine_topk"].spark_fn(spark, sf_dir).collect()
    }
    approx = reg["ivf_topk"].spark_fn(spark, sf_dir).collect()
    assert len(approx) == 50  # 10 queries x k=5
    hits = 0
    for r in approx:
        if (r.query_id, r.vec_id) in exact:
            # never invents scores: probed neighbors carry exact cosines
            assert exact[(r.query_id, r.vec_id)] == r.cosine
            hits += 1
    # with weak clusters and n_probe=3 recall is partial but nonzero
    assert hits >= 10


def test_hyperplanes_deterministic():
    a = hyperplanes(64, 8, seed=42)
    b = hyperplanes(64, 8, seed=42)
    c = hyperplanes(64, 8, seed=43)
    assert a == b and a != c
    assert all(w in (1.0, -1.0) for row in a for w in row)


def test_near_dup_pairs_symmetric_threshold(emb):
    pairs = near_dup_pairs(emb.limit(100), threshold=0.3, bucketed=False).collect()
    for r in pairs:
        assert r.id_a < r.id_b and r.cosine >= 0.3


def test_kmeans_recovers_planted_clusters(spark):
    """Three well-separated planted clusters must be exactly recovered,
    and reruns must match (deterministic seeding, no RNG)."""
    from instagram_data_pipeline_spark.extensions.similarity import (
        ivf_assign,
        as_double_vec,
        kmeans_centroids_train,
    )
    from pyspark.sql import functions as F2

    def vec(axis, jitter):
        v = [0.0] * 12
        v[axis] = 10.0
        v[(axis + 1) % 12] = jitter
        return v

    rows = [(i, vec(i % 3, 0.1 * (i % 5))) for i in range(30)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids_train(corpus, k=3, iters=4)
    assert cents.count() == 3
    c = corpus.select("vec_id", as_double_vec(F2.col("embedding")).alias("_v"))
    assign = {
        r.vec_id: r.cluster
        for r in ivf_assign(
            c, cents, "vec_id", centroid_vec_col="centroid"
        ).collect()
    }
    # members of the same planted cluster share an assigned cluster
    for i in range(30):
        assert assign[i] == assign[i % 3]
    # distinct planted clusters map to distinct centroids
    assert len({assign[0], assign[1], assign[2]}) == 3
    # determinism
    again = kmeans_centroids_train(corpus, k=3, iters=4)
    a = sorted(map(tuple, cents.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_kmeans_output_feeds_ivf_index_sink_unchanged(spark, tmp_path):
    """The trainer's (cluster, centroid) frame is the shape the IVF
    index sink reads: it goes in with no rename, every vector lands in
    its planted cluster's list, and a probe finds the query's own
    cluster-mates."""
    from instagram_data_pipeline_spark.extensions.similarity import (
        kmeans_centroids_train,
    )
    from instagram_data_pipeline_spark.streaming.annindex import IvfIndexSink

    def vec(axis, jitter):
        v = [0.0] * 12
        v[axis] = 10.0
        v[(axis + 1) % 12] = jitter
        return v

    rows = [(i, vec(i % 3, 0.1 * (i % 5))) for i in range(30)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids_train(corpus, k=3, iters=4)
    assert cents.columns == ["cluster", "centroid"]
    sink = IvfIndexSink(str(tmp_path / "ivf"), cents)
    sink.process_batch(corpus, 0)
    lists = {r.vec_id: r.cluster for r in sink.index(spark).collect()}
    assert sorted(lists) == list(range(30))
    assert all(lists[i] == lists[i % 3] for i in range(30))
    assert len({lists[0], lists[1], lists[2]}) == 3
    queries = corpus.filter("vec_id < 3").withColumnRenamed(
        "vec_id", "query_id"
    )
    got = sink.topk(spark, queries, k=5, n_probe=1).collect()
    assert len(got) == 15
    assert all(r.vec_id % 3 == r.query_id for r in got)


def test_near_dup_pairs_bucketed_subset_and_recall(emb):
    """The LSH-gated default must return a subset of the exact pairs
    (same scores) with reasonable recall at few planes."""
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in near_dup_pairs(emb, threshold=0.35, bucketed=False).collect()
    }
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in near_dup_pairs(emb, threshold=0.35).collect()
    }
    assert set(got) <= set(exact)
    for k, v in got.items():
        assert v == exact[k]  # scoring identical; only candidate set shrinks
    # defaults (4 planes x 8 tables): collision prob for a pair at the
    # threshold angle (~69.5deg, p=(1-theta/pi)^4 ~ 0.15) is
    # 1-(1-0.15)^8 ~ 0.73; half the exact set is a conservative floor
    assert len(got) >= len(exact) * 0.5


def test_quantize_int8_bounds_and_zero_vector(spark):
    from instagram_data_pipeline_spark.extensions.similarity import (
        quantize_int8,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),   # zero vector
            (3, [127.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: r for r in quantize_int8(df).collect()}
    # max |v| maps to 127; halves round toward +inf (floor(x+0.5)):
    # -0.5/scale = -63.5 -> -63
    assert out[1].q == [127, -63, 32, 0]
    assert abs(out[1].scale - 1.0 / 127.0) < 1e-12
    # reconstruction error bounded by scale/2 per dim
    recon = [qv * out[1].scale for qv in out[1].q]
    for orig, rec in zip([1.0, -0.5, 0.25, 0.0], recon):
        assert abs(orig - rec) <= out[1].scale / 2 + 1e-12
    assert out[2].scale is None and out[2].q is None  # zero vector -> NULL
    assert out[3].q == [127]


def test_lsh_dim_mismatch_raises_instead_of_degenerating(emb):
    """A wrong explicit dim must raise — silently it would NULL every
    projection and collapse the LSH into one all-pairs bucket."""
    import pytest

    from instagram_data_pipeline_spark.extensions.similarity import (
        near_dup_pairs,
    )

    with pytest.raises(ValueError, match="hyperplane dim"):
        near_dup_pairs(emb, bucketed=True, dim=32).collect()


def test_lsh_dim_derived_from_data_matches_explicit(emb):
    from instagram_data_pipeline_spark.extensions.similarity import (
        near_dup_pairs,
    )

    derived = near_dup_pairs(emb, bucketed=True, threshold=0.5)
    explicit = near_dup_pairs(emb, bucketed=True, threshold=0.5, dim=64)
    assert sorted(map(tuple, derived.collect())) == sorted(
        map(tuple, explicit.collect())
    )


# ---------------------------------------------------------------------------
# Semantic dedup
# ---------------------------------------------------------------------------
def test_semantic_dedup_keeps_lowest_id_per_dup_group(spark):
    from instagram_data_pipeline_spark.extensions.similarity import semantic_dedup

    # two tight groups (near-identical vectors) + one isolated vector
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.998, 0.02, 0.0]),
        (10, [0.0, 1.0, 0.0]),
        (11, [0.01, 0.999, 0.0]),
        (20, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.is_kept
           for r in semantic_dedup(df, k=3, iters=2, threshold=0.95).collect()}
    assert got[1] and not got[2] and not got[3]
    assert got[10] and not got[11]
    assert got[20]
    # every input row is present in the output
    assert len(got) == len(rows)


def test_semantic_dedup_orthogonal_all_kept(spark):
    from instagram_data_pipeline_spark.extensions.similarity import semantic_dedup

    rows = [(i, [1.0 if d == i else 0.0 for d in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = semantic_dedup(df, k=2, iters=2, threshold=0.9).collect()
    assert all(r.is_kept for r in got)


# ---------------------------------------------------------------------------
# Product quantization
# ---------------------------------------------------------------------------
def test_pq_recall_against_brute_force(spark, sf_dir):
    from pyspark.sql import functions as F

    from instagram_data_pipeline_spark.extensions.similarity import (
        cosine_topk,
        pq_search,
    )
    from instagram_data_pipeline_spark.io import load_testdata

    emb = load_testdata(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = pq_search(corpus, queries, k=5, m=16, n_codes=16,
                       iters=3, shortlist=50)
    exact = cosine_topk(corpus, queries, k=5)
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    nq = queries.count()
    assert len(a) == 5 * nq
    # two-stage recall@5: ADC shortlist (50 of ~490) + exact re-rank
    # recovers most of the exact neighborhood (measured 0.92 at sf0.01)
    assert len(a & e) / len(e) >= 0.8


def test_pq_codes_shape_and_determinism(spark, sf_dir):
    from pyspark.sql import functions as F

    from instagram_data_pipeline_spark.extensions.similarity import (
        pq_encode,
        pq_train,
    )
    from instagram_data_pipeline_spark.io import load_testdata

    emb = load_testdata(spark, sf_dir, "embeddings").limit(100)
    books = pq_train(emb, m=4, k=8, iters=2).localCheckpoint()
    # one codebook entry set per subspace, clusters within [0, k)
    per_sub = {r.sub: r.n for r in
               books.groupBy("sub").agg(F.count("*").alias("n")).collect()}
    assert set(per_sub) == {0, 1, 2, 3}
    assert all(1 <= n <= 8 for n in per_sub.values())
    codes = pq_encode(emb, books, m=4)
    # every vector gets exactly m codes
    counts = codes.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in counts] == [4]
    # deterministic re-encode
    again = pq_encode(emb, books, m=4)
    assert sorted(map(tuple, codes.collect())) == sorted(map(tuple, again.collect()))


# ---------------------------------------------------------------------------
# Incremental IVF index (build / append / probe)
# ---------------------------------------------------------------------------


def test_ivf_index_append_equals_rebuild(spark, sf_dir, emb):
    from instagram_data_pipeline_spark.extensions.similarity import (
        ivf_index_append,
        ivf_index_build,
    )
    from instagram_data_pipeline_spark.queries import load_all

    reg = load_all()
    # reuse the registry's per-label centroids
    cents = (
        reg["label_centroids"].spark_fn(spark, sf_dir)
        .groupBy(F.col("label").alias("cluster"))
        .agg(F.array_sort(
            F.collect_list(F.struct("pos", F.col("centroid").alias("v")))
        ).alias("pv"))
        .select("cluster", F.transform("pv", lambda s: s["v"]).alias("centroid"))
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    old = corpus.filter(F.col("vec_id") % 2 == 0)
    new = corpus.filter(F.col("vec_id") % 2 == 1)
    merged = ivf_index_append(ivf_index_build(old, cents), cents, new)
    rebuilt = ivf_index_build(corpus, cents)
    a = sorted((r.cluster, r.vec_id) for r in merged.collect())
    b = sorted((r.cluster, r.vec_id) for r in rebuilt.collect())
    assert a == b and len(a) == corpus.count()


def test_ivf_incremental_topk_matches_oneshot(spark, sf_dir):
    from instagram_data_pipeline_spark.queries import load_all

    reg = load_all()
    inc = sorted(map(tuple, reg["ivf_incremental_topk"].spark_fn(spark, sf_dir).collect()))
    one = sorted(map(tuple, reg["ivf_topk"].spark_fn(spark, sf_dir).collect()))
    assert inc == one


def test_semdedup_drops_planted(spark):
    from instagram_data_pipeline_spark.extensions.similarity import (
        semdedup_drops,
    )

    # Two orthogonal clusters; in cluster 0 two near-identical vectors
    # plus one orthogonal-ish outlier; cluster 1 a lone vector.
    vecs = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 0.0]),
            (11, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 10
            (12, [0.7, 0.0, 0.714, 0.0]),    # same cluster, dissimilar
            (20, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cluster int, cv array<double>",
    )
    got = {
        r.vec_id: (r.cluster, r.max_prior_sim)
        for r in semdedup_drops(vecs, cent, threshold=0.95).collect()
    }
    # Priority in cluster 0 is centroid-sim ASC: 12 (outlier) first,
    # then 11, then 10. 10 is dropped against 11 (cos ~0.99995); 11
    # survives (12 is below tau); 12 and 20 survive.
    assert set(got) == {10}
    assert got[10][0] == 0 and got[10][1] > 0.99

    # Raising the threshold above the planted similarity drops nothing.
    assert semdedup_drops(vecs, cent, threshold=0.99999).count() == 0

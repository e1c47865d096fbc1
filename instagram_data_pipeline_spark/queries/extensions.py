"""Extension-operator queries: similarity search + probabilistic dedup
(SURVEY §2.12) over the embeddings/documents tables.

Exact operators carry full DuckDB oracles (the vector fold is
bit-identical across engines — see extensions/similarity.py).
"Probabilistic" operators are handled two ways:

* literal-randomness ops (LSH hyperplanes, splitmix64-seeded) emit
  their literals into the oracle SQL and are fully hash-checked
  (``embedding_near_dups_bucketed``, ``ann_lsh_topk``);
* xxhash64-based ops register rows-only on the scale tier AND a
  ``*_portable`` twin on the md5-based hash family that reproduces the
  whole pipeline in SQL (``minhash_near_dups_portable``,
  ``simhash_near_dups_portable``, ``cms_heavy_users_portable``).

Both tiers are additionally recall/property-tested in
tests/test_dedup.py / test_similarity.py / test_sketches.py against
their exact counterparts. Genuinely iterative ops (k-means, IVF's
trained centroids) stay rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extensions import similarity as S
from ..extensions.dedup import (
    lsh_index_build,
    lsh_index_probe,
    minhash_near_dups,
    simhash_near_dups,
)
from ..io import load_testdata
from . import register

_COS = (
    "list_dot_product({a}, {b}) / NULLIF(sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})), 0)"
)


# ---------------------------------------------------------------------------
@register(
    "embedding_norms",
    """
SELECT vec_id, label,
       ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm
FROM embeddings
""",
    doc="vector plumbing: exact L2 norm via higher-order fold",
    tags=("similarity",),
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.round(S.l2_norm(S.as_double_vec(F.col("embedding"))), 6).alias("l2_norm"),
    )


# ---------------------------------------------------------------------------
_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id >= 10
), scored AS (
  SELECT query_id, vec_id,
         {_COS.format(a='qv', b='cv')} AS sim
  FROM q, c
)
SELECT query_id, vec_id, ROUND(sim, 6) AS cosine, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id
  ) AS rank FROM scored
) WHERE rank <= 5
"""


@register(
    "cosine_topk",
    _TOPK_ORACLE,
    doc="exact brute-force cosine top-5 per query vector (ANN baseline)",
    tags=("similarity", "topk"),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import spread_small_scan

    emb = load_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # gated spread: the per-pair dot folds are the dominant map work and
    # the corpus scan is consumed once — measured 15% faster at sf0.1,
    # no-op on a multi-split table (guide §2.5)
    corpus = spread_small_scan(
        emb.filter(F.col("vec_id") >= 10), key="vec_id"
    )
    return S.cosine_topk(corpus, queries, k=5)


# ---------------------------------------------------------------------------
_NEAR_DUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_COS.format(a='a.v', b='b.v')}, 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {_COS.format(a='a.v', b='b.v')} >= 0.35
"""


@register(
    "embedding_near_dups",
    _NEAR_DUP_ORACLE,
    doc="embedding-cosine near-dup pairs (exact all-pairs verification "
        "tier; the bucketed variant is the scale default)",
    tags=("similarity", "dedup"),
)
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.near_dup_pairs(emb, threshold=0.35, bucketed=False)


# The LSH hyperplanes are deterministic Python literals
# (similarity.hyperplanes, splitmix64-seeded), so the oracle reproduces
# the bucket assignment EXACTLY: the same ±1 arrays are emitted into the
# SQL and list_dot_product matches the Spark fold bit-for-bit. This
# turns a "probabilistic" op into a hash-checkable one — the randomness
# is pseudo and shared.
_BUCKETED_DIM, _BUCKETED_PLANES, _BUCKETED_TABLES, _BUCKETED_SEED = 64, 4, 8, 42


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join("1.0" if x > 0 else "-1.0" for x in plane) + "]"


def _bits_sql(planes: list[list[float]], vec: str = "v") -> str:
    """SQL expression packing sign-projection bits into a bucket id —
    the DuckDB twin of ``similarity.lsh_bucket``."""
    return " + ".join(
        f"(CASE WHEN list_dot_product({vec}, {_plane_literal(p)}) >= 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )


def _bucket_branch(t: int) -> str:
    planes = S.hyperplanes(_BUCKETED_DIM, _BUCKETED_PLANES, _BUCKETED_SEED + t)
    return f"SELECT vec_id, v, {t} AS tbl, {_bits_sql(planes)} AS bkt FROM e"


_BUCKETED_NEAR_DUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
b AS (
{" UNION ALL ".join(_bucket_branch(t) for t in range(_BUCKETED_TABLES))}
), pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bkt = c.bkt
                   AND a.vec_id < c.vec_id
), s AS (
  SELECT id_a, id_b, {_COS.format(a='ea.v', b='eb.v')} AS sim
  FROM pairs JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b
)
SELECT id_a, id_b, ROUND(sim, 6) AS cosine FROM s WHERE sim >= 0.35
"""


@register(
    "embedding_near_dups_bucketed",
    _BUCKETED_NEAR_DUP_ORACLE,
    doc="embedding-cosine near-dups, LSH-bucket-gated (the 100 TB "
        "default: bucket equi-join instead of all-pairs nested loop). "
        "Hyperplanes are deterministic literals shared with the oracle, "
        "so bucket assignment — not just the scored pairs — is "
        "hash-checked.",
    tags=("similarity", "dedup", "approx"),
)
def q_embedding_near_dups_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.near_dup_pairs(
        emb,
        threshold=0.35,
        num_planes=_BUCKETED_PLANES,
        num_tables=_BUCKETED_TABLES,
        dim=_BUCKETED_DIM,
        seed=_BUCKETED_SEED,
    )


# ---------------------------------------------------------------------------
@register(
    "dataset_split",
    """
WITH b AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 10000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs
FROM b GROUP BY 1, 2
""",
    doc="deterministic train/val/test split by stable key hash (portable, "
    "append-stable, shuffle-free)",
    tags=("sampling", "split"),
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sampling import assign_split

    docs = load_testdata(spark, sf_dir, "documents")
    return (
        assign_split(docs, "doc_id", train=0.9, val=0.05)
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
@register(
    "label_centroids",
    """
SELECT label, pos,
       ROUND(CAST(SUM(CAST(v AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6) AS centroid
FROM (
  SELECT label,
         unnest(generate_series(1, len(embedding))) AS pos,
         unnest(embedding::DOUBLE[]) AS v
  FROM embeddings
) GROUP BY label, pos
""",
    doc="per-label embedding centroids (positional explode + exact mean) — "
    "the cluster-summary stage of IVF-style ANN",
    tags=("similarity", "agg"),
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(S.as_double_vec(F.col("embedding"))).alias("pos0", "v"),
    )
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(
                F.sum(F.col("v").cast("decimal(18,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid")
        )
    )


# ---------------------------------------------------------------------------
# Like the bucketed near-dups: the hyperplanes are deterministic Python
# literals, so the "approximate" search is exactly reproducible in SQL —
# the oracle checks bucket assignment AND the per-bucket top-k.
_ANN_PLANES = S.hyperplanes(64, 4, 42)

_ANN_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (
  SELECT vec_id AS query_id, v AS qv, {_bits_sql(_ANN_PLANES)} AS bkt
  FROM e WHERE vec_id < 10
), c AS (
  SELECT vec_id, v AS cv, {_bits_sql(_ANN_PLANES)} AS bkt
  FROM e WHERE vec_id >= 10
), scored AS (
  SELECT query_id, vec_id, {_COS.format(a='qv', b='cv')} AS sim
  FROM q JOIN c USING (bkt)
)
SELECT query_id, vec_id, ROUND(sim, 6) AS cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id
  ) AS rank FROM scored
) WHERE rank <= 5
"""


@register(
    "ann_lsh_topk",
    _ANN_ORACLE,
    doc="approximate top-k via sign-random-projection LSH buckets; "
        "hyperplanes are shared literals so bucket gating and per-bucket "
        "ranking are both hash-checked (recall vs exact is in tests)",
    tags=("similarity", "ann"),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    return S.ann_lsh_topk(corpus, queries, k=5, num_planes=4, dim=64, seed=42)


# ---------------------------------------------------------------------------
# IVF is fully deterministic given its centroids, and the centroids here
# are the label_centroids query's output — decimal-exact means rounded
# to 6 decimals, bit-identical across engines. So the whole probe-and-
# score pipeline is SQL-expressible: assign corpus to nearest centroid,
# probe top-3 lists per query, exact-score only those lists.
_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (
  SELECT label AS cluster, list(m ORDER BY pos) AS cv FROM (
    SELECT label, pos,
           ROUND(CAST(SUM(CAST(val AS DECIMAL(28,10))) AS DOUBLE)
                 / COUNT(*), 6) AS m
    FROM (
      SELECT label,
             unnest(generate_series(1, len(embedding))) AS pos,
             unnest(embedding::DOUBLE[]) AS val
      FROM embeddings
    ) GROUP BY label, pos
  ) GROUP BY label
), c AS (
  SELECT vec_id, v FROM e WHERE vec_id >= 10
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10
), ca AS (
  SELECT vec_id, cluster FROM (
    SELECT c.vec_id, t.cluster,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
             ORDER BY {_COS.format(a='c.v', b='t.cv')} DESC, t.cluster) AS r
    FROM c CROSS JOIN cent t
  ) WHERE r = 1
), qa AS (
  SELECT query_id, cluster FROM (
    SELECT q.query_id, t.cluster,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {_COS.format(a='q.qv', b='t.cv')} DESC, t.cluster) AS r
    FROM q CROSS JOIN cent t
  ) WHERE r <= 3
), scored AS (
  SELECT DISTINCT qa.query_id, ca.vec_id,
         {_COS.format(a='q.qv', b='c.v')} AS sim
  FROM qa JOIN ca ON qa.cluster = ca.cluster
  JOIN q ON q.query_id = qa.query_id
  JOIN c ON c.vec_id = ca.vec_id
)
SELECT query_id, vec_id, ROUND(sim, 6) AS cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id
  ) AS rank FROM scored
) WHERE rank <= 5
"""


@register(
    "ivf_topk",
    _IVF_ORACLE,
    doc="IVF ANN: inverted lists under per-label centroids, n_probe=3; "
        "centroids are decimal-exact rounded means (bit-identical across "
        "engines), so list assignment, probing, and per-list top-k are "
        "all hash-checked (recall vs exact is in tests)",
    tags=("similarity", "ann", "ivf"),
)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    centroids = (
        q_label_centroids(spark, sf_dir)
        .groupBy(F.col("label").alias("cluster"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", F.col("centroid").alias("v")))
            ).alias("pv")
        )
        .select(
            "cluster",
            F.transform(F.col("pv"), lambda s: s["v"]).alias("centroid"),
        )
    )
    return S.ivf_topk(corpus, queries, centroids, k=5, n_probe=3)


# ---------------------------------------------------------------------------
@register(
    "ivf_incremental_topk",
    _IVF_ORACLE,
    doc="incremental IVF index maintenance: the index is BUILT over half "
        "the corpus, the other half is APPENDED against the frozen "
        "centroids (no retrain, no rewrite), and the probe runs off the "
        "merged index. The oracle is the ONE-SHOT whole-corpus IVF SQL — "
        "the hash match is the proof that append-then-probe is exactly "
        "equivalent to a full rebuild.",
    tags=("similarity", "ann", "ivf", "incremental"),
)
def q_ivf_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = (
        q_label_centroids(spark, sf_dir)
        .groupBy(F.col("label").alias("cluster"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", F.col("centroid").alias("v")))
            ).alias("pv")
        )
        .select(
            "cluster",
            F.transform(F.col("pv"), lambda s: s["v"]).alias("centroid"),
        )
    )
    # the corpus arrives in two waves: the index is built on the even
    # vec_ids and the odd wave is appended later without retraining
    old = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 2 == 0))
    new = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") % 2 == 1))
    idx = S.ivf_index_build(old, centroids)
    idx = S.ivf_index_append(idx, centroids, new)
    return S.ivf_index_topk(idx, centroids, queries, k=5, n_probe=3)


# ---------------------------------------------------------------------------
def _kmeans_ctes(k: int = 8, iters: int = 4) -> str:
    """The unrolled Lloyd's-k-means CTE chain, shared by every oracle
    that consumes trained clusters (kmeans_clusters, semantic_dedup):
    ends with assignments ``a{iters}(vec_id, cluster)`` over vectors
    ``e(vec_id, v)``."""
    cos = _COS.format(a="e.v", b="t.cv")
    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        "x AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS dim,"
        " unnest(v) AS val FROM e)",
        f"c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1"
        f" AS BIGINT) AS cluster, v AS cv FROM e ORDER BY vec_id LIMIT {k})",
    ]
    for i in range(iters + 1):
        parts.append(f"""a{i} AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, t.cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, t.cluster) AS r
    FROM e CROSS JOIN c{i} t
  ) WHERE r = 1
)""")
        if i == iters:
            break
        parts.append(f"""c{i + 1} AS (
  SELECT cluster, list(m ORDER BY dim) AS cv FROM (
    SELECT a.cluster, x.dim,
           CAST(SUM(CAST(x.val AS DECIMAL(28,10))) AS DOUBLE)
             / COUNT(*) AS m
    FROM a{i} a JOIN x ON x.vec_id = a.vec_id
    GROUP BY a.cluster, x.dim
  ) GROUP BY cluster
)""")
    return ",\n".join(parts)


def _kmeans_oracle(k: int = 8, iters: int = 4) -> str:
    """Lloyd's k-means unrolled into iterated CTEs: the training loop is
    deterministic (lowest-id seeding, decimal-exact means, tie-break by
    cluster id), so a fixed iteration count is one — large — SQL
    statement. Assignment uses the same fold-identical cosine; means use
    the same DECIMAL(28,10) exact sum as the Spark trainer, so centroids
    are bit-identical at every iteration."""
    return f"""
WITH {_kmeans_ctes(k, iters)}
SELECT c.cluster,
       COALESCE(s.n, 0) AS n_members,
       ROUND(sqrt(list_dot_product(c.cv, c.cv)), 6) AS centroid_norm
FROM c{iters} c LEFT JOIN (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n FROM a{iters}
  GROUP BY cluster
) s ON c.cluster = s.cluster
"""


@register(
    "kmeans_clusters",
    _kmeans_oracle(k=8, iters=4),
    doc="deterministic Lloyd's k-means over the embedding corpus (k=8, "
        "4 iters, lowest-id seeding, decimal-exact means): per-cluster "
        "size + centroid norm — the trainer feeding ivf_topk. Oracle: "
        "the training loop unrolled into iterated SQL CTEs, centroid "
        "bit-parity at every iteration.",
    tags=("similarity", "ivf", "iterative"),
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    cents = S.kmeans_centroids_train(emb, k=8, iters=4)
    c = emb.select("vec_id", S.as_double_vec(F.col("embedding")).alias("_v"))
    assign = S.ivf_assign(c, cents, "vec_id", centroid_vec_col="centroid",
                          n_probe=1)
    sizes = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        cents.join(sizes, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_members", F.lit(0)).alias("n_members"),
            F.round(S.l2_norm(F.col("centroid")), 6).alias("centroid_norm"),
        )
    )


# ---------------------------------------------------------------------------
def _semantic_dedup_oracle(k: int = 8, iters: int = 4,
                           threshold: float = 0.35) -> str:
    cos = _COS.format(a="x.v", b="y.v")
    return f"""
WITH {_kmeans_ctes(k, iters)},
asg AS (
  SELECT a.vec_id, a.cluster, e.v FROM a{iters} a
  JOIN e ON e.vec_id = a.vec_id
), dup AS (
  SELECT DISTINCT y.vec_id AS b
  FROM asg x JOIN asg y
    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  WHERE {cos} >= {threshold}
)
SELECT a.vec_id, a.cluster, d.b IS NULL AS is_kept
FROM asg a LEFT JOIN dup d ON d.b = a.vec_id
"""


@register(
    "semantic_dedup",
    _semantic_dedup_oracle(k=8, iters=4, threshold=0.35),
    doc="SemDedup: k-means partitions the embedding corpus (k=8, 4 "
        "deterministic iterations), near-dups detected WITHIN clusters "
        "only — the pair join is bounded by cluster occupancy, not "
        "corpus size; raise k as the corpus grows. Greedy "
        "keep-lowest-id drop rule. Oracle composes the unrolled k-means "
        "CTEs with the in-cluster pair join.",
    tags=("similarity", "dedup", "iterative"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    return S.semantic_dedup(emb, k=8, iters=4, threshold=0.35)


# ---------------------------------------------------------------------------
@register(
    "embedding_quantize",
    """
WITH q AS (
  SELECT vec_id,
         NULLIF(list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
                / 127.0, 0.0) AS scale,
         embedding::DOUBLE[] AS v
  FROM embeddings
), e AS (
  SELECT vec_id, scale,
         CASE WHEN scale IS NULL THEN NULL
              ELSE list_transform(v, x -> CAST(FLOOR(x / scale + 0.5) AS INT))
         END AS qv
  FROM q
)
SELECT vec_id, ROUND(scale, 9) AS scale9,
       CAST(len(qv) AS INT) AS n_dims,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS INT) AS q_min,
       CAST(list_max(qv) AS INT) AS q_max
FROM e
""",
    doc="symmetric int8 embedding quantization (scale = max|v|/127, "
        "floor(x+0.5) rounding — engine-identical): per-vector digest of "
        "the quantized array",
    tags=("similarity", "quantize"),
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    qd = S.quantize_int8(emb)
    return qd.select(
        "vec_id",
        F.round("scale", 9).alias("scale9"),
        F.size("q").cast("int").alias("n_dims"),
        F.aggregate(
            "q", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_sum"),
        F.array_min("q").cast("int").alias("q_min"),
        F.array_max("q").cast("int").alias("q_max"),
    )


# ---------------------------------------------------------------------------
@register(
    "cms_heavy_users",
    None,  # sketch buckets depend on xxhash64 (Spark-only); the one-sided
    # error + merge-monoid guarantees are covered by deterministic tests
    doc="Count-Min sketch heavy hitters: users with estimated event count "
        ">= 20 (depth 4 x width 2048, map-side combinable, mergeable "
        "monoid — no false negatives by construction)",
    tags=("sketch", "approx"),
)
def q_cms_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sketches import cms_heavy_hitters

    events = load_testdata(spark, sf_dir, "events")
    return cms_heavy_hitters(events, "user_id", min_count=20)


_CMS_HASH = (
    "CAST(concat('0x', substr(md5({d} || ':' || CAST(user_id AS VARCHAR)),"
    " 1, 8)) AS BIGINT) % 2048"
)

_CMS_PORTABLE_ORACLE = f"""
WITH counters AS (
  SELECT t.d, {_CMS_HASH.format(d='t.d')} AS bucket, COUNT(*) AS cnt
  FROM events CROSS JOIN range(4) t(d)
  GROUP BY 1, 2
), probes AS (
  SELECT user_id, t.d, {_CMS_HASH.format(d='t.d')} AS bucket
  FROM (SELECT DISTINCT user_id FROM events) CROSS JOIN range(4) t(d)
), est AS (
  SELECT p.user_id, MIN(COALESCE(c.cnt, 0)) AS est
  FROM probes p LEFT JOIN counters c ON p.d = c.d AND p.bucket = c.bucket
  GROUP BY p.user_id
)
SELECT user_id, CAST(est AS BIGINT) AS est FROM est WHERE est >= 20
"""


@register(
    "cms_heavy_users_portable",
    _CMS_PORTABLE_ORACLE,
    doc="the SAME Count-Min sketch on the md5-based portable hash family: "
        "counter matrix, probe, min-estimate, and heavy-hitter cut all "
        "reproduced in SQL (full hash evidence for the sketch algorithm); "
        "the xxhash64 twin above stays the scale default",
    tags=("sketch", "frequency"),
)
def q_cms_heavy_users_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sketches import cms_heavy_hitters

    events = load_testdata(spark, sf_dir, "events")
    return cms_heavy_hitters(events, "user_id", min_count=20, portable=True)


# ---------------------------------------------------------------------------
# Connected components: the oracle is a DuckDB WITH RECURSIVE min-label
# walk. A recursive walk's state is quadratic in component size, so the
# query targets a naturally-sparse graph — "order bursts": consecutive
# orders by the same customer ≤30 days apart (sessionization expressed
# as CC; components stay ≤~6 nodes at any SF, keeping the oracle linear
# in practice). The recursive step prunes labels that can no longer be a
# component minimum (w.label < e.dst); the true minimum always survives
# the prune, so the fixpoint is exact.
_CC_ORACLE = """
WITH RECURSIVE seq AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         LAG(o_orderkey) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS prev,
         LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS prev_d
  FROM orders
), e0 AS (
  SELECT prev AS src, o_orderkey AS dst FROM seq
  WHERE prev IS NOT NULL AND date_diff('day', prev_d, o_orderdate) <= 30
), sym AS (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
  ) t WHERE src <> dst
), walk(node, label) AS (
  SELECT src, src FROM sym
  UNION
  SELECT e.dst, w.label FROM walk w JOIN sym e ON e.src = w.node
  WHERE w.label < e.dst
), comp AS (
  SELECT node, MIN(label) AS component FROM walk GROUP BY node
)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM comp GROUP BY component
"""


@register(
    "connected_components",
    _CC_ORACLE,
    doc="connected components via min-label propagation (one shuffle per "
        "round, driver convergence probe, checkpointed lineage) over the "
        "order-burst graph: consecutive same-customer orders ≤30 days "
        "apart — sessionization as CC. Oracle: DuckDB WITH RECURSIVE "
        "min-label fixpoint over the same symmetrized edges.",
    tags=("graph", "iterative"),
)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.graph import component_sizes, connected_components

    orders = load_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderkey").over(w).alias("prev"),
        F.lag("o_orderdate").over(w).alias("prev_d"),
    )
    edges = seq.filter(
        F.col("prev").isNotNull()
        & (F.datediff("o_orderdate", "prev_d") <= 30)
    ).select(F.col("prev").alias("src"), F.col("o_orderkey").alias("dst"))
    return component_sizes(connected_components(edges)).orderBy("component")


# ---------------------------------------------------------------------------
@register(
    "incremental_components",
    _CC_ORACLE,
    doc="incremental connected-components maintenance: the order-burst "
        "edge set arrives in two waves — base components are computed "
        "first, then the second wave folds in via the LABEL-graph "
        "contraction (CC over the touched labels only, a graph no "
        "larger than 2x the batch). The oracle is the FULL-graph "
        "recursive fixpoint, so the hash match proves merge-then-fold "
        "is exactly equivalent to recomputing from scratch — the CC "
        "member of the incremental-maintenance family (LSH, IVF, CC).",
    tags=("graph", "iterative", "incremental"),
)
def q_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.graph import (
        component_sizes,
        connected_components,
        incremental_components,
    )

    orders = load_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderkey").over(w).alias("prev"),
        F.lag("o_orderdate").over(w).alias("prev_d"),
    )
    edges = seq.filter(
        F.col("prev").isNotNull()
        & (F.datediff("o_orderdate", "prev_d") <= 30)
    ).select(F.col("prev").alias("src"), F.col("o_orderkey").alias("dst"))
    base = edges.filter((F.col("src") + F.col("dst")) % 3 != 0)
    batch = edges.filter((F.col("src") + F.col("dst")) % 3 == 0)
    comps = incremental_components(connected_components(base), batch)
    return component_sizes(comps).orderBy("component")


# ---------------------------------------------------------------------------
@register(
    "minhash_near_dups",
    None,  # xxhash64 hash family is engine-specific (scale tier); the
    # portable-hash twin below is fully oracle-checked
    doc="MinHash+LSH near-dup pipeline: banded candidates -> exact Jaccard "
        "verify (xxhash64 scale tier)",
    tags=("text", "dedup", "minhash"),
)
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return minhash_near_dups(docs, threshold=0.1)


def _minhash_portable_oracle() -> str:
    from .text import _NORM

    return f"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(w) < 3 THEN []
         ELSE list_transform(generate_series(1, len(w) - 2),
                             i -> array_to_string(w[i:i+2], ' '))
    END) AS shingle
  FROM tok
), sig AS (
  -- 32-member md5 hash family, identical literal recipe to the Spark
  -- side: min per (doc, member) over the distinct shingle set
  SELECT doc_id, i,
         MIN(CAST(concat('0x', substr(md5(i || ':' || shingle), 1, 8))
                  AS BIGINT)) AS h
  FROM sh0 CROSS JOIN range(32) t(i)
  GROUP BY doc_id, i
), band AS (
  SELECT doc_id, i // 4 AS band_id,
         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM sig GROUP BY doc_id, i // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh0 GROUP BY doc_id
), shared AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS s
  FROM cand c
  JOIN sh0 x ON x.doc_id = c.doc_a
  JOIN sh0 y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       ROUND(s * 1.0 / (sa.n + sb.n - s), 6) AS jaccard
FROM shared JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
WHERE s * 1.0 / (sa.n + sb.n - s) >= 0.1
"""


@register(
    "minhash_near_dups_portable",
    _minhash_portable_oracle(),
    doc="the SAME MinHash+LSH pipeline on the md5-based portable hash "
        "family: signatures, banding, candidate join, and exact-Jaccard "
        "verification all reproduced in SQL — full hash evidence for the "
        "algorithm; the xxhash64 twin above stays the scale default",
    tags=("text", "dedup", "minhash"),
)
def q_minhash_near_dups_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return minhash_near_dups(docs, threshold=0.1, portable=True)


# ---------------------------------------------------------------------------
def _incremental_minhash_oracle() -> str:
    from .text import _NORM

    return f"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(w) < 3 THEN []
         ELSE list_transform(generate_series(1, len(w) - 2),
                             i -> array_to_string(w[i:i+2], ' '))
    END) AS shingle
  FROM tok
), sig AS (
  SELECT doc_id, i,
         MIN(CAST(concat('0x', substr(md5(i || ':' || shingle), 1, 8))
                  AS BIGINT)) AS h
  FROM sh0 CROSS JOIN range(32) t(i)
  GROUP BY doc_id, i
), band AS (
  SELECT doc_id, i // 4 AS band_id,
         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM sig GROUP BY doc_id, i // 4
), cidx AS (  -- the persisted corpus band index
  SELECT * FROM band WHERE doc_id % 7 <> 0
), live AS (  -- hot-bucket cap: corpus buckets with <= 50 docs survive
  SELECT band_id, band_key FROM cidx
  GROUP BY band_id, band_key HAVING COUNT(*) <= 50
), cand AS (
  SELECT DISTINCT nb.doc_id AS new_id, ob.doc_id AS old_id
  FROM band nb
  JOIN cidx ob ON ob.band_id = nb.band_id AND ob.band_key = nb.band_key
  JOIN live l ON l.band_id = ob.band_id AND l.band_key = ob.band_key
  WHERE nb.doc_id % 7 = 0
), agree AS (
  SELECT c.new_id, c.old_id,
         SUM(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) AS s
  FROM cand c
  JOIN sig x ON x.doc_id = c.new_id
  JOIN sig y ON y.doc_id = c.old_id AND y.i = x.i
  GROUP BY c.new_id, c.old_id
), best AS (
  SELECT new_id, old_id, s * 1.0 / 32 AS e,
         ROW_NUMBER() OVER (PARTITION BY new_id
                            ORDER BY s * 1.0 / 32 DESC, old_id ASC) AS rn
  FROM agree WHERE s * 1.0 / 32 >= 0.5
)
SELECT d.doc_id, b.old_id AS match_id, ROUND(b.e, 6) AS est_jaccard,
       CASE WHEN b.old_id IS NOT NULL THEN 'drop' ELSE 'keep' END AS decision
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = d.doc_id
WHERE d.doc_id % 7 = 0
"""


@register(
    "incremental_minhash_dedup",
    _incremental_minhash_oracle(),
    doc="incremental near-dup dedup: a NEW batch (doc_id % 7 = 0) probes "
        "a persisted MinHash-LSH index built over the corpus (the other "
        "six sevenths) and each batch doc gets a keep/drop decision with "
        "its best match and signature-agreement Jaccard estimate — "
        "verification never re-reads corpus text. Portable md5 hash "
        "family end-to-end, so signatures, banding, the hot-bucket cap, "
        "candidate join, agreement estimate, and best-match tie-break "
        "are all reproduced in SQL and hash-checked.",
    tags=("text", "dedup", "minhash", "incremental"),
)
def q_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    sigs, idx = lsh_index_build(corpus, portable=True)
    return lsh_index_probe(
        sigs, idx, batch, threshold=0.5, max_bucket=50, portable=True
    )


# ---------------------------------------------------------------------------
# PCA family: the projection path is hash-checked under a FIXED literal
# basis (the splitmix-derandomized hyperplanes — ±1 entries, so dots are
# exact integer-weighted sums); the trainer itself (distributed Gram +
# driver eigh) registers rows-only and is property-tested in
# tests/test_pca.py (orthonormality, variance ordering, reconstruction).
# ---------------------------------------------------------------------------
def _pca_project_oracle() -> str:
    planes = S.hyperplanes(64, 4, seed=7)
    lits = [
        "[" + ", ".join(f"{x:.1f}" for x in p) + "]" for p in planes
    ]
    coords = ", ".join(
        f"ROUND(list_dot_product(embedding::DOUBLE[], {lit}), 6) AS p{i}"
        for i, lit in enumerate(lits)
    )
    return f"""
SELECT vec_id, {coords}
FROM embeddings
"""


@register(
    "pca_project_fixed",
    _pca_project_oracle(),
    doc="embedding projection under a fixed literal basis (the "
        "derandomized ±1 hyperplanes): per-component codegen folds, no "
        "Python, no shuffle — the serving half of the PCA family, "
        "hash-checked; training supplies real components at run time. "
        "Output is one SCALAR column per component (p0..p3) — the driver "
        "canonicalizer cannot sort ARRAY columns (VERDICT r5 #1), and "
        "tests/test_registry.py now bans nested types in oracle-paired "
        "output schemas.",
    tags=("similarity", "pca"),
)
def q_pca_project_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.pca import project_expr

    emb = load_testdata(spark, sf_dir, "embeddings")
    planes = S.hyperplanes(64, 4, seed=7)
    proj = project_expr(
        S.as_double_vec(F.col("embedding")), planes, mean=None
    )
    return emb.select(
        "vec_id",
        *[
            F.round(F.element_at(proj, i + 1), 6).alias(f"p{i}")
            for i in range(len(planes))
        ],
    )


@register(
    "pca_components",
    None,  # driver-side eigendecomposition of the distributed Gram
    doc="PCA training over the embedding table: per-Arrow-batch partial "
        "Gram matrices (one BLAS matmul each, the treeAggregate shape), "
        "decimal-exact reduce, driver eigh, sign-canonicalized "
        "components — returns (component, eigval, leading coordinate)",
    tags=("similarity", "pca", "iterative"),
)
def q_pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.pca import pca_train

    emb = load_testdata(spark, sf_dir, "embeddings")
    model = pca_train(emb, k=8)
    rows = [
        (i, round(model["eigvals"][i], 6), round(model["components"][i][0], 6))
        for i in range(len(model["components"]))
    ]
    return spark.createDataFrame(
        rows, "component int, eigval double, c0 double"
    )


def _pca_eig2_oracle() -> str:
    # Same arithmetic SEQUENCE as the Spark side (cov entries -> half
    # trace -> discriminant), so the only divergence source is the
    # distributed-vs-rowwise summation — bounded far below the 1e-6
    # rounding grain by the DECIMAL(38,12) reduces on both engines.
    return """
WITH xy AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS x,
         CAST(embedding[2] AS DOUBLE) AS y
  FROM embeddings
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
  FROM xy
), c AS (
  SELECT sxx / n - (sx / n) * (sx / n) AS a,
         sxy / n - (sx / n) * (sy / n) AS b,
         syy / n - (sy / n) * (sy / n) AS d,
         n
  FROM s
)
SELECT 0 AS component,
       ROUND((a + d) / 2
             + SQRT(((a - d) / 2) * ((a - d) / 2) + b * b), 6) AS eigval,
       CAST(n AS BIGINT) AS n
FROM c
UNION ALL
SELECT 1 AS component,
       ROUND((a + d) / 2
             - SQRT(((a - d) / 2) * ((a - d) / 2) + b * b), 6) AS eigval,
       CAST(n AS BIGINT) AS n
FROM c
"""


@register(
    "pca_eig2_fixed",
    _pca_eig2_oracle(),
    doc="hash-checked twin for the PCA TRAINER (the pq_adc_fixed "
        "pattern): restrict the embedding to its first two coordinates, "
        "run the REAL distributed trainer path — mapInPandas per-Arrow-"
        "batch partial Grams, DECIMAL(38,12)-exact reduce (gram_stats) — "
        "then the 2x2 covariance eigendecomposition in closed form with "
        "the exact arithmetic sequence the oracle replays in SQL. Gives "
        "the rows-only pca_components an adjacent hard row: if the "
        "distributed Gram were wrong, these eigenvalues would not match "
        "DuckDB's rowwise sums.",
    tags=("similarity", "pca"),
)
def q_pca_eig2_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from ..extensions.pca import gram_stats

    emb = load_testdata(spark, sf_dir, "embeddings")
    vec = S.as_double_vec(F.col("embedding"))
    pair = emb.select(
        F.array(F.element_at(vec, 1), F.element_at(vec, 2)).alias("embedding")
    )
    gram, vsum, n = gram_stats(pair)
    fn = float(n)
    gxx, gxy, gyy = float(gram[0][0]), float(gram[0][1]), float(gram[1][1])
    sx, sy = float(vsum[0]), float(vsum[1])
    a = gxx / fn - (sx / fn) * (sx / fn)
    b = gxy / fn - (sx / fn) * (sy / fn)
    d = gyy / fn - (sy / fn) * (sy / fn)
    half_tr = (a + d) / 2
    disc = math.sqrt(((a - d) / 2) * ((a - d) / 2) + b * b)
    rows = [
        (0, round(half_tr + disc, 6), n),
        (1, round(half_tr - disc, 6), n),
    ]
    return spark.createDataFrame(rows, "component int, eigval double, n long")


# ---------------------------------------------------------------------------
def _stream_neardup_oracle() -> str:
    """The sink's sequential semantics unrolled over the three batches:
    kept_b = batch_b minus (near-match to a LOWER-id same-batch doc)
    minus (near-match to anything kept in earlier batches)."""
    from .text import _NORM

    return f"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(w) < 3 THEN []
         ELSE list_transform(generate_series(1, len(w) - 2),
                             i -> array_to_string(w[i:i+2], ' '))
    END) AS shingle
  FROM tok
), sig AS (
  SELECT doc_id, i,
         MIN(CAST(concat('0x', substr(md5(i || ':' || shingle), 1, 8))
                  AS BIGINT)) AS h
  FROM sh0 CROSS JOIN range(32) t(i)
  GROUP BY doc_id, i
), band AS (
  SELECT doc_id, i // 4 AS band_id,
         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM sig GROUP BY doc_id, i // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM band a JOIN band b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id <> b.doc_id
), m AS (  -- symmetric near-match relation at agreement >= 0.5
  SELECT c.da, c.db FROM cand c
  JOIN sig x ON x.doc_id = c.da
  JOIN sig y ON y.doc_id = c.db AND y.i = x.i
  GROUP BY c.da, c.db
  HAVING SUM(CASE WHEN x.h = y.h THEN 1 ELSE 0 END) * 1.0 / 32 >= 0.5
), intra AS (  -- same-batch lower-id match
  SELECT DISTINCT da AS doc_id FROM m
  WHERE da % 3 = db % 3 AND db < da
), k0 AS (
  SELECT doc_id FROM documents WHERE doc_id % 3 = 0
  AND doc_id NOT IN (SELECT doc_id FROM intra)
), k1 AS (
  SELECT d.doc_id FROM documents d WHERE d.doc_id % 3 = 1
  AND d.doc_id NOT IN (SELECT doc_id FROM intra)
  AND NOT EXISTS (SELECT 1 FROM m JOIN k0 ON m.db = k0.doc_id
                  WHERE m.da = d.doc_id)
), k2 AS (
  SELECT d.doc_id FROM documents d WHERE d.doc_id % 3 = 2
  AND d.doc_id NOT IN (SELECT doc_id FROM intra)
  AND NOT EXISTS (SELECT 1 FROM m
                  JOIN (SELECT doc_id FROM k0
                        UNION ALL SELECT doc_id FROM k1) k
                    ON m.db = k.doc_id
                  WHERE m.da = d.doc_id)
), kept AS (
  SELECT doc_id FROM k0 UNION ALL SELECT doc_id FROM k1
  UNION ALL SELECT doc_id FROM k2
)
SELECT d.doc_id, CAST(d.doc_id % 3 AS INT) AS batch,
       CASE WHEN k.doc_id IS NOT NULL THEN 'keep' ELSE 'drop' END AS decision
FROM documents d LEFT JOIN kept k USING (doc_id)
"""


@register(
    "stream_neardup_dedup",
    _stream_neardup_oracle(),
    doc="streaming near-dup dedup: documents arrive in three "
        "micro-batches (doc_id % 3, in order) through the "
        "NearDupIndexSink — each batch drops intra-batch near-dups and "
        "anything near-matching the already-kept index, then appends "
        "only kept docs' signatures/band rows. Portable md5 family; the "
        "oracle unrolls the sequential kept-set recurrence over the "
        "three batches in SQL and every per-doc decision hash-checks.",
    tags=("streaming", "dedup", "minhash", "incremental"),
)
def q_stream_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming.neardup import NearDupIndexSink

    docs = load_testdata(spark, sf_dir, "documents")
    root = tempfile.mkdtemp(prefix="stream_neardup_")
    sink = NearDupIndexSink(root, threshold=0.5, portable=True)
    for b in range(3):
        sink.process_batch(docs.filter(F.col("doc_id") % 3 == b), b)
    out = (
        sink.results(spark, "decisions")
        .select("doc_id", F.col("batch").cast("int").alias("batch"), "decision")
        .localCheckpoint()  # materialize before the temp dir is removed
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
@register(
    "simhash_near_dups",
    None,  # bit-signature locality is engine-specific (xxhash64)
    doc="SimHash 64-bit signatures; Hamming<=8 pairs via chunk-banded join",
    tags=("text", "dedup", "simhash"),
)
def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    return simhash_near_dups(docs)


def _simhash_portable_oracle(max_hamming: int = 8) -> str:
    from ..extensions.dedup import simhash_chunk_bounds
    from .text import _NORM

    nbits, chunks = 60, max_hamming + 1
    bounds = simhash_chunk_bounds(nbits, chunks)
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(nbits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
        for b in range(nbits)
    )
    chunk_rows = ", ".join(
        f"({c}, {bounds[c]}, {bounds[c + 1] - bounds[c]})"
        for c in range(chunks)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS t FROM documents
), hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('s:' || t), 1, 15)) AS BIGINT) AS h
  FROM tok
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
), sig AS (
  SELECT doc_id, CAST({sig} AS BIGINT) AS s FROM votes
), chunks(cid, lo, w) AS (
  VALUES {chunk_rows}
), banded AS (
  SELECT doc_id, s, cid,
         (s >> lo) & ((CAST(1 AS BIGINT) << w) - 1) AS cv
  FROM sig CROSS JOIN chunks
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.s AS sa, b.s AS sb
  FROM banded a JOIN banded b
    ON a.cid = b.cid AND a.cv = b.cv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
"""


@register(
    "simhash_near_dups_portable",
    _simhash_portable_oracle(max_hamming=4),
    doc="the SAME SimHash pipeline on the md5-based portable hash family "
        "(60-bit signatures, Hamming<=4 — tighter than the 64-bit tier "
        "since fewer bits make any cutoff looser): per-bit votes, sign "
        "signature, pigeonhole chunk banding, and Hamming cut all "
        "reproduced in SQL — full hash evidence for the algorithm; the "
        "64-bit xxhash64 twin above stays the scale default",
    tags=("text", "dedup", "simhash"),
)
def q_simhash_near_dups_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_testdata(spark, sf_dir, "documents")
    out = simhash_near_dups(docs, max_hamming=4, portable=True)
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pruning (operators/bloom.py): the broadcast-bitmap
# prune a 100 TB fact scan needs when the dim side exceeds the broadcast
# threshold. The residual semi-join makes the composition exact, so the
# oracle is the plain semi-join — correctness is independent of the hash
# family and the filter's false-positive rate.
# ---------------------------------------------------------------------------
@register(
    "bloom_pruned_join",
    """
SELECT l_returnflag,
       COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 3)
GROUP BY l_returnflag
""",
    doc="revenue from one nation's suppliers via Bloom-pruned semi-join: "
        "the supplier keys aggregate into a fixed-size broadcast bitmap "
        "(8 KiB) that pre-filters lineitem with pure codegen bit probes "
        "before any shuffle; the residual semi-join drops false positives",
    tags=("join", "bloom", "scale"),
)
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloom import bloom_semi_join
    from .core import _exact_sum

    li = load_testdata(spark, sf_dir, "lineitem")
    supp = load_testdata(spark, sf_dir, "supplier").filter(
        F.col("s_nationkey") == 3
    )
    joined = bloom_semi_join(li, supp, "l_suppkey", "s_suppkey")
    return joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        _exact_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
        ),
    )


# ---------------------------------------------------------------------------
# HyperLogLog approximate distinct counting: the corpus-stats staple
# (unique users/domains/fingerprints at 100 TB without a distinct
# shuffle). Spark's approx_count_distinct is HLL++ — a mergeable sketch
# computed map-side; the shuffle moves one sketch per partition instead
# of every distinct key. DuckDB's approx_count_distinct is a different
# HLL implementation with different estimates, so this is rows-only by
# nature; tests/test_approx.py pins the relative-error bound against
# the exact count.
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_users",
    None,
    doc="HLL++ distinct users per event_type (rsd=0.02): mergeable "
        "map-side sketches, no distinct shuffle — rows-only (engine-"
        "specific estimator); error bound pinned vs exact in tests",
    tags=("sketch", "approx"),
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id", rsd=0.02).alias(
                "approx_users"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Portable HLL (round 4): the hash-checkable twin of the rows-only
# approx_distinct_users — md5 bucket/rho registers and a shared
# estimator expression reproduce the IDENTICAL estimate in DuckDB (see
# extensions/sketches.py:portable_hll_distinct for the portability
# discipline: integer-exact register sums, LENGTH(BIN()) bit lengths,
# one shared SQL string for the float estimator).
# ---------------------------------------------------------------------------
_HLL_P = 12


def _hll_oracle() -> str:
    from ..extensions.sketches import _hll_estimator_sql

    m = 1 << _HLL_P
    est = _hll_estimator_sql(m)
    return f"""
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {m} AS bkt,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 9, 8))
              AS BIGINT) AS w
  FROM events WHERE user_id IS NOT NULL
), r AS (
  SELECT event_type, bkt,
         MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - LENGTH(bin(w)) END) AS mreg
  FROM h GROUP BY 1, 2
), a AS (
  SELECT event_type,
         SUM(CAST(POWER(2.0, 40 - mreg) AS BIGINT))
           + ({m} - COUNT(*)) * CAST(POWER(2.0, 40) AS BIGINT) AS sum_int,
         {m} - COUNT(*) AS n_zero
  FROM r GROUP BY 1
)
SELECT event_type,
       CAST(FLOOR(({est}) + 0.5) AS BIGINT) AS approx_users
FROM a
"""


@register(
    "approx_distinct_users_portable",
    _hll_oracle(),
    doc="engine-portable HyperLogLog (m=4096, md5 registers, "
        "integer-exact register sums, shared estimator expression): "
        "distinct users per event_type with a full DuckDB hash oracle — "
        "the portable twin that gives the approx-distinct family a hard "
        "driver row; error bound vs exact pinned in tests/test_approx.py",
    tags=("sketch", "approx"),
)
def q_approx_distinct_users_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..extensions.sketches import portable_hll_distinct

    ev = load_testdata(spark, sf_dir, "events")
    return portable_hll_distinct(ev, ["event_type"], "user_id", p=_HLL_P)


# ---------------------------------------------------------------------------
# Equi-width histogram quantile sketch: the deterministic, mergeable,
# oracle-checkable cousin of percentile_approx. Bounded domain
# [0, 120000] covers l_extendedprice at every SF; 256 bins -> value
# error <= 468.75.
# ---------------------------------------------------------------------------
_QSK_LO, _QSK_HI, _QSK_BINS = 0.0, 120000.0, 256
_QSK_QS = (0.25, 0.5, 0.75, 0.95, 0.99)


def _quantile_sketch_oracle() -> str:
    width = (_QSK_HI - _QSK_LO) / _QSK_BINS
    vals = ", ".join(f"({q})" for q in _QSK_QS)
    return f"""
WITH s AS (
  SELECT LEAST({_QSK_BINS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - {_QSK_LO})
                      / {_QSK_HI - _QSK_LO} * {float(_QSK_BINS)}) AS BIGINT)))
           AS bin,
         COUNT(*) AS cnt
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), c AS (
  SELECT bin,
         SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS total
  FROM s
)
SELECT CAST(q AS DOUBLE) AS q,
       ROUND(CAST({_QSK_LO} AS DOUBLE)
             + (bin + 1) * CAST({width} AS DOUBLE), 6) AS value FROM (
  SELECT t.q, MIN(c.bin) AS bin
  FROM (VALUES {vals}) t(q)
  JOIN c ON c.cum >= CEIL(CAST(t.q AS DOUBLE) * c.total)
  GROUP BY t.q
)
"""


@register(
    "quantile_sketch",
    _quantile_sketch_oracle(),
    doc="mergeable equi-width histogram quantile sketch over "
        "l_extendedprice (256 bins): exact monoid (bin counts add), "
        "map-side combined build, cumulative scan over the SKETCH not "
        "the data; conservative rank answer off by <= one bin width. "
        "The deterministic cousin of percentile_approx.",
    tags=("sketch", "quantile"),
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sketches import quantile_estimate, quantile_sketch

    li = load_testdata(spark, sf_dir, "lineitem")
    sk = quantile_sketch(li, "l_extendedprice", _QSK_LO, _QSK_HI, _QSK_BINS)
    return quantile_estimate(sk, list(_QSK_QS), _QSK_LO, _QSK_HI, _QSK_BINS)


# ---------------------------------------------------------------------------
# Grouped median via the histogram sketch: the sketch composes under
# GROUP BY exactly like any additive aggregate — per-group cumulative
# windows run over sketch rows, never data rows.
# ---------------------------------------------------------------------------
_GROUPED_MEDIAN_ORACLE = f"""
WITH s AS (
  SELECT l_returnflag, l_linestatus,
         LEAST({_QSK_BINS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - {_QSK_LO})
                      / {_QSK_HI - _QSK_LO} * {float(_QSK_BINS)}) AS BIGINT)))
           AS bin,
         COUNT(*) AS cnt
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2, 3
), c AS (
  SELECT l_returnflag, l_linestatus, bin,
         SUM(cnt) OVER (PARTITION BY l_returnflag, l_linestatus
                        ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY l_returnflag, l_linestatus) AS total
  FROM s
)
SELECT l_returnflag, l_linestatus,
       ROUND(CAST({_QSK_LO} AS DOUBLE)
             + (MIN(bin) + 1)
               * CAST({(_QSK_HI - _QSK_LO) / _QSK_BINS} AS DOUBLE), 6)
         AS value
FROM c WHERE cum >= CEIL(CAST(0.5 AS DOUBLE) * total)
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "grouped_median_sketch",
    _GROUPED_MEDIAN_ORACLE,
    doc="per-(returnflag, linestatus) median price via the grouped "
        "histogram sketch: one map-side-combined shuffle builds every "
        "group's sketch, cumulative windows run over sketch rows only — "
        "the grouped composition of quantile_sketch.",
    tags=("sketch", "quantile", "agg"),
)
def q_grouped_median_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sketches import (
        grouped_quantile_estimate,
        grouped_quantile_sketch,
    )

    li = load_testdata(spark, sf_dir, "lineitem")
    sk = grouped_quantile_sketch(
        li, ["l_returnflag", "l_linestatus"], "l_extendedprice",
        _QSK_LO, _QSK_HI, _QSK_BINS,
    )
    return grouped_quantile_estimate(
        sk, ["l_returnflag", "l_linestatus"], 0.5,
        _QSK_LO, _QSK_HI, _QSK_BINS,
    )


# ---------------------------------------------------------------------------
# Product-quantization ANN (the memory-bound tier of the ANN ladder:
# brute -> LSH -> IVF -> IVF-PQ). Iteratively trained per-subspace
# codebooks -> rows-only at the driver; recall against the exact
# brute-force ranking is pinned in tests/test_similarity.py.
# ---------------------------------------------------------------------------
@register(
    "pq_topk",
    None,
    doc="two-stage PQ ANN (FAISS IVFPQ+refine shape): 16x16 per-subspace "
        "k-means codebooks compress 64 float dims to 16 bytes/vector; "
        "ADC over codes (broadcast lookup table, float corpus never "
        "scanned) builds a 50-candidate shortlist, exact cosine re-ranks "
        "only the shortlist. Rows-only (iterative trainer); recall@5 "
        ">= 0.8 vs brute force pinned in tests.",
    tags=("similarity", "ann", "iterative"),
)
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import pq_search

    emb = load_testdata(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_search(corpus, queries, k=5, m=16, n_codes=16,
                     iters=3, shortlist=50)


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (derandomized E-S): sample 50
# documents proportionally to length — the quality/importance-weighted
# subsampling step of a curation pipeline, reproducible by construction.
# ---------------------------------------------------------------------------
@register(
    "weighted_sample",
    """
WITH w AS (
  SELECT doc_id, n_chars,
         ROUND(LN((CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
               / CAST(n_chars AS DOUBLE), 12) AS es_key
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars, es_key FROM w
ORDER BY es_key DESC, doc_id LIMIT 50
""",
    doc="weighted sampling without replacement (Efraimidis-Spirakis, "
        "md5-derandomized uniforms): inclusion is reproducible across "
        "runs/engines/appends; one per-row expression + TakeOrdered, no "
        "full sort. Sampling 50 docs proportional to length.",
    tags=("sampling",),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sampling import weighted_sample

    docs = load_testdata(spark, sf_dir, "documents")
    return weighted_sample(
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars", k=50
    )


# ---------------------------------------------------------------------------
# Equi-depth bucketing: decile cut points from the histogram sketch
# assign every row a depth bucket — ML feature discretization where
# each bucket carries ~equal mass (unlike equi-width bins). The cut
# array rides as a 1-row broadcast; assignment is a per-row lambda over
# 9 values, pure codegen.
# ---------------------------------------------------------------------------
_EQD_QS = tuple(round(0.1 * i, 1) for i in range(1, 10))


def _equidepth_oracle() -> str:
    width = (_QSK_HI - _QSK_LO) / _QSK_BINS
    vals = ", ".join(f"({q})" for q in _EQD_QS)
    return f"""
WITH s AS (
  SELECT LEAST({_QSK_BINS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(l_extendedprice AS DOUBLE) - {_QSK_LO})
                      / {_QSK_HI - _QSK_LO} * {float(_QSK_BINS)}) AS BIGINT)))
           AS bin,
         COUNT(*) AS cnt
  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1
), c AS (
  SELECT bin,
         SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER () AS total
  FROM s
), cuts AS (
  SELECT list_sort(list(CAST({_QSK_LO} AS DOUBLE)
                        + (bin + 1) * CAST({width} AS DOUBLE))) AS cs
  FROM (
    SELECT t.q, MIN(c.bin) AS bin
    FROM (VALUES {vals}) t(q)
    JOIN c ON c.cum >= CEIL(CAST(t.q AS DOUBLE) * c.total)
    GROUP BY t.q
  )
)
SELECT CAST(len(list_filter(cuts.cs,
            x -> CAST(l_extendedprice AS DOUBLE) > x)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem CROSS JOIN cuts
GROUP BY 1
"""


@register(
    "equidepth_buckets",
    _equidepth_oracle(),
    doc="equi-depth discretization: decile cut points from the mergeable "
        "histogram sketch, assignment = per-row filtered-count over the "
        "9-value broadcast cut array (codegen, no join); each bucket "
        "carries ~10% of the mass — the ML feature-binning form "
        "equi-width bins cannot give on skewed columns.",
    tags=("sketch", "quantile", "sampling"),
)
def q_equidepth_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sketches import quantile_estimate, quantile_sketch

    li = load_testdata(spark, sf_dir, "lineitem")
    sk = quantile_sketch(li, "l_extendedprice", _QSK_LO, _QSK_HI, _QSK_BINS)
    cuts = F.broadcast(
        quantile_estimate(sk, list(_EQD_QS), _QSK_LO, _QSK_HI, _QSK_BINS)
        .agg(F.array_sort(F.collect_list("value")).alias("_cs"))
    )
    v = F.col("l_extendedprice").cast("double")
    bucket = F.size(F.filter(F.col("_cs"), lambda x: v > x)).cast("long")
    return (
        li.crossJoin(cuts)
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# LSH quality report: the eval loop you run when TUNING bands/rows —
# how many exact near-dup pairs (the capped inverted-index ground
# truth) does banded LSH recover, and how much candidate fan-out does
# it pay? One hash-checked row: candidate/verified/missed counts and
# integer-exact precision/recall ppm, portable md5 family end-to-end.
# ---------------------------------------------------------------------------
def _lsh_quality_oracle() -> str:
    from .text import _JACCARD_CTES

    return f"""
WITH {_JACCARD_CTES}, exact AS (
  SELECT doc_a, doc_b FROM kept WHERE jaccard >= 0.5
), msig AS (
  SELECT doc_id, i,
         MIN(CAST(concat('0x', substr(md5(i || ':' || shingle), 1, 8))
                  AS BIGINT)) AS h
  FROM sh0 CROSS JOIN range(32) t(i)
  GROUP BY doc_id, i
), band AS (
  SELECT doc_id, i // 4 AS band_id,
         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM msig GROUP BY doc_id, i // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), verified AS (
  SELECT c.doc_a, c.doc_b FROM cand c
  JOIN exact e ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
)
SELECT
  (SELECT COUNT(*) FROM exact) AS n_exact,
  (SELECT COUNT(*) FROM cand) AS n_candidates,
  (SELECT COUNT(*) FROM verified) AS n_verified,
  (SELECT COUNT(*) FROM exact) - (SELECT COUNT(*) FROM verified)
    AS n_missed,
  CAST(FLOOR((SELECT COUNT(*) FROM verified) * 1000000.0
       / NULLIF((SELECT COUNT(*) FROM cand), 0)) AS BIGINT)
    AS precision_ppm,
  CAST(FLOOR((SELECT COUNT(*) FROM verified) * 1000000.0
       / NULLIF((SELECT COUNT(*) FROM exact), 0)) AS BIGINT)
    AS recall_ppm
"""


@register(
    "lsh_quality_report",
    _lsh_quality_oracle(),
    doc="banded-LSH tuning report: candidate pairs vs the exact "
        "inverted-index ground truth at jaccard >= 0.5 — verified and "
        "missed counts with integer-exact precision/recall ppm, one "
        "hash-checked row; the eval a deployment runs before changing "
        "bands/rows-per-band",
    tags=("text", "dedup", "minhash", "diagnostics"),
)
def q_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = load_testdata(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.5,
        max_df=100,
    ).select("doc_a", "doc_b").localCheckpoint()
    sigs = minhash_signatures(docs, portable=True)
    cand = lsh_candidate_pairs(sigs, portable=True).localCheckpoint()
    verified = cand.join(exact, ["doc_a", "doc_b"], "semi")
    n_exact = exact.count()
    n_cand = cand.count()
    n_ver = verified.count()
    row = [(
        n_exact, n_cand, n_ver, n_exact - n_ver,
        (n_ver * 1000000) // n_cand if n_cand else None,
        (n_ver * 1000000) // n_exact if n_exact else None,
    )]
    return spark.createDataFrame(
        row,
        "n_exact long, n_candidates long, n_verified long, n_missed long, "
        "precision_ppm long, recall_ppm long",
    )


# ---------------------------------------------------------------------------
# ANN recall report: the vector-side twin of lsh_quality_report — how
# much of the exact brute-force top-5 does IVF (n_probe=3) recover?
# Both sides are already hash-checked individually; this row composes
# their oracles and measures the overlap, integer-exact.
# ---------------------------------------------------------------------------
_ANN_RECALL_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
c AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY {_COS.format(a='q.qv', b='c.v')} DESC, c.vec_id)
             AS rank
    FROM q CROSS JOIN c
  ) WHERE rank <= 5
), approx AS (
  SELECT query_id, vec_id FROM ({_IVF_ORACLE.strip()})
), hit AS (
  SELECT a.query_id, a.vec_id FROM approx a
  JOIN exact x ON x.query_id = a.query_id AND x.vec_id = a.vec_id
)
SELECT
  (SELECT COUNT(*) FROM exact) AS n_exact,
  (SELECT COUNT(*) FROM approx) AS n_approx,
  (SELECT COUNT(*) FROM hit) AS n_hits,
  CAST(FLOOR((SELECT COUNT(*) FROM hit) * 1000000.0
       / (SELECT COUNT(*) FROM exact)) AS BIGINT) AS recall_ppm
"""


@register(
    "ann_recall_report",
    _ANN_RECALL_ORACLE,
    doc="ANN eval harness: IVF (per-label centroids, n_probe=3) top-5 "
        "vs the exact brute-force top-5 — hit counts and integer-exact "
        "recall ppm in one hash-checked row; the dial-tuning eval for "
        "n_probe/cluster quality",
    tags=("similarity", "ann", "diagnostics"),
)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = (
        q_cosine_topk(spark, sf_dir)
        .select("query_id", "vec_id")
        .localCheckpoint()
    )
    approx = (
        q_ivf_topk(spark, sf_dir)
        .select("query_id", "vec_id")
        .localCheckpoint()
    )
    hits = approx.join(exact, ["query_id", "vec_id"], "semi")
    n_exact, n_approx, n_hits = exact.count(), approx.count(), hits.count()
    return spark.createDataFrame(
        [(n_exact, n_approx, n_hits, (n_hits * 1000000) // n_exact)],
        "n_exact long, n_approx long, n_hits long, recall_ppm long",
    )


# ---------------------------------------------------------------------------
# PQ ADC machinery, hash-checked (the pq_topk twin): FIXED codebooks and
# a FIXED query built from exact dyadic fractions (multiples of 1/8 and
# a one-hot query), so every dot product and every ADC sum is exact in
# IEEE double REGARDLESS of summation order — the float-ordering hazard
# that forces pq_topk (trained codebooks) to stay rows-only is designed
# out, and the REAL pq_topk operator (codes join -> broadcast ADC table
# -> groupBy sum -> window top-k) runs end-to-end against a SQL replay.
# Training stays covered by the recall@5 pytest gate.
# ---------------------------------------------------------------------------
_PQF_M, _PQF_CODES, _PQF_DIM = 4, 4, 64


def _pqf_t(s: int, c: int) -> float:
    return ((s * 7 + c * 13) % 19 - 9) / 8.0


def _pqf_oracle() -> str:
    cases = []
    for s in range(_PQF_M):
        whens = " ".join(
            f"WHEN {c} THEN CAST({_pqf_t(s, c)!r} AS DOUBLE)"
            for c in range(_PQF_CODES)
        )
        cases.append(f"(CASE (vec_id + {s}) % {_PQF_CODES} {whens} END)")
    score = " + ".join(cases)
    return f"""
WITH s AS (
  SELECT vec_id, ({score}) AS adc FROM embeddings
), r AS (
  SELECT vec_id, adc,
         ROW_NUMBER() OVER (ORDER BY adc DESC, vec_id) AS rank
  FROM s
)
SELECT CAST(0 AS BIGINT) AS query_id, vec_id,
       ROUND(adc, 6) AS adc_score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
"""


@register(
    "pq_adc_fixed",
    _pqf_oracle(),
    doc="PQ asymmetric-distance top-k through the REAL pq_topk operator "
        "with fixed dyadic-fraction codebooks and a one-hot query — "
        "every dot and ADC sum exact in double, so the codes-join + "
        "broadcast-table + groupBy-sum + window-top-k machinery is "
        "hash-checked; the twin that anchors the rows-only trained "
        "pq_topk (same pairing as bpe_merges / bpe_encode_tokens)",
    tags=("similarity", "ann"),
)
def q_pq_adc_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import pq_topk

    emb = load_testdata(spark, sf_dir, "embeddings")
    sub_d = _PQF_DIM // _PQF_M
    codes = emb.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    ((F.col("vec_id") + s) % _PQF_CODES)
                    .cast("int")
                    .alias("code"),
                )
                for s in range(_PQF_M)
            ])
        ).alias("_e"),
    ).select("vec_id", "_e.sub", "_e.code")
    books = spark.createDataFrame(
        [
            (s, c, [_pqf_t(s, c)] + [0.0] * (sub_d - 1))
            for s in range(_PQF_M)
            for c in range(_PQF_CODES)
        ],
        "sub int, cluster int, cv array<double>",
    )
    qvec = [0.0] * _PQF_DIM
    for s in range(_PQF_M):
        qvec[s * sub_d] = 1.0
    queries = spark.createDataFrame(
        [(0, qvec)], "query_id long, embedding array<double>"
    )
    return pq_topk(codes, books, queries, k=10, m=_PQF_M)


# ---------------------------------------------------------------------------
# Filtered vector search (metadata-constrained ANN): the label equality
# constraint IS the broadcast-join key, so candidates are pruned before
# any cosine is computed — the predicate never degrades into a
# post-scoring residual filter. The vector-store feature (tenant/
# category/language-scoped retrieval) as a plan property.
# ---------------------------------------------------------------------------
_FILTERED_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, label, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id >= 10
), scored AS (
  SELECT query_id, c.vec_id,
         {_COS.format(a='qv', b='cv')} AS sim
  FROM q JOIN c USING (label)
)
SELECT query_id, vec_id, ROUND(sim, 6) AS cosine, rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY sim DESC, vec_id
  ) AS rank FROM scored
) WHERE rank <= 5
"""


@register(
    "ann_filtered_topk",
    _FILTERED_TOPK_ORACLE,
    doc="filtered vector search: exact top-5 among same-label corpus "
        "vectors — the metadata constraint IS the broadcast-hash-join "
        "key, pruning candidates BEFORE any cosine runs (selectivity "
        "1/s cuts scoring work by s); the tenant/category-scoped "
        "retrieval every vector store sells, as a plan property",
    tags=("similarity", "topk", "ann"),
)
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "label", "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= 10)
    return S.cosine_topk_filtered(
        corpus, queries, filter_cols=["label"], k=5
    )


# ---------------------------------------------------------------------------
# LSH index health: per-band bucket statistics — bucket count, largest
# bucket, hot buckets (> cap candidates), and the EXACT candidate-pair
# cost sum C(sz,2) — the observability report that says whether the
# banding is doing its job BEFORE the candidate join runs (a band
# whose candidate_pairs explodes means stop-shingle leakage or a
# degenerate hash family). Portable md5 family so SQL replays the
# exact buckets.
# ---------------------------------------------------------------------------
def _lsh_band_stats_oracle() -> str:
    from .text import _NORM

    return f"""
WITH tok AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS w FROM documents
), sh0 AS (
  SELECT DISTINCT doc_id, unnest(
    CASE WHEN len(w) < 3 THEN []
         ELSE list_transform(generate_series(1, len(w) - 2),
                             i -> array_to_string(w[i:i+2], ' '))
    END) AS shingle
  FROM tok
), sig AS (
  SELECT doc_id, i,
         MIN(CAST(concat('0x', substr(md5(i || ':' || shingle), 1, 8))
                  AS BIGINT)) AS h
  FROM sh0 CROSS JOIN range(32) t(i)
  GROUP BY doc_id, i
), band AS (
  SELECT doc_id, i // 4 AS band_id,
         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS band_key
  FROM sig GROUP BY doc_id, i // 4
), buckets AS (
  SELECT band_id, band_key, COUNT(*) AS sz
  FROM band GROUP BY band_id, band_key
)
SELECT CAST(band_id AS INT) AS band_id,
       COUNT(*) AS n_buckets,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(SUM(CASE WHEN sz > 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
       CAST(SUM(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs
FROM buckets GROUP BY band_id
"""


@register(
    "lsh_band_stats",
    _lsh_band_stats_oracle(),
    doc="LSH index health: per-band bucket count, largest bucket, hot "
        "buckets (> 4 members) and the EXACT candidate-pair cost "
        "sum C(sz,2) — says whether banding controls the join BEFORE "
        "it runs (an exploding band = stop-shingle leakage or a "
        "degenerate family); one signature pass + two band-keyed "
        "aggregations, portable md5 family replayed in SQL",
    tags=("text", "dedup", "minhash", "diagnostics"),
)
def q_lsh_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.dedup import lsh_band_rows, minhash_signatures

    docs = load_testdata(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, portable=True)
    rows = lsh_band_rows(sig, portable=True)
    buckets = rows.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return buckets.groupBy(
        F.col("band_id").cast("int").alias("band_id")
    ).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("sz").cast("long").alias("max_bucket"),
        F.sum(F.when(F.col("sz") > 4, 1).otherwise(0)).cast("long")
        .alias("n_hot"),
        F.sum(
            (F.col("sz") * (F.col("sz") - 1) / 2).cast("long")
        ).cast("long").alias("candidate_pairs"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter error measurement: the report that VALIDATES the pruning
# family. A portable md5 bloom (63-bit words keep every shift off the
# sign bit in both engines) is built from the dim keys and probed by
# every fact row — measured pass/true/false-positive counts and the
# realized FP rate, hash-checked against a SQL replay of the exact
# bitmap. bloom_pruned_join proves output-equality; this proves the
# BITS. Fully distributed: the words frame joins by word index
# (broadcast, <= n_bits/63 rows) — no driver bitmap collect.
# ---------------------------------------------------------------------------
_BFP_BITS, _BFP_K = 512, 2


def _bfp_pos_sql(i: int, key: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5({i} || ':' ||"
        f" CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % {_BFP_BITS}"
    )


def _bloom_fp_oracle() -> str:
    dim_pos = " UNION ALL ".join(
        f"SELECT key, {_bfp_pos_sql(i, 'key')} AS p FROM dimk"
        for i in range(_BFP_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT o_orderkey, key, {_bfp_pos_sql(i, 'key')} AS p FROM probe"
        for i in range(_BFP_K)
    )
    return f"""
WITH dimk AS (
  SELECT DISTINCT c_custkey AS key FROM customer WHERE c_acctbal > 9000
), dpos AS ({dim_pos}), words AS (
  SELECT p // 63 AS wi, bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT))
           AS bits
  FROM dpos GROUP BY p // 63
), probe AS (
  SELECT o_orderkey, o_custkey AS key FROM orders
), ppos AS ({probe_pos}), hit AS (
  SELECT o_orderkey, key,
         BOOL_AND(COALESCE((w.bits >> CAST(p % 63 AS INT)) & 1 = 1,
                           FALSE)) AS pass
  FROM ppos LEFT JOIN words w ON w.wi = p // 63
  GROUP BY o_orderkey, key
), marked AS (
  SELECT h.o_orderkey, h.pass, d.key IS NOT NULL AS is_true
  FROM hit h LEFT JOIN dimk d ON d.key = h.key
)
SELECT COUNT(*) AS n_probes,
       CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN pass AND NOT is_true THEN 1 ELSE 0 END)
            AS BIGINT) AS n_fp,
       CAST(FLOOR(SUM(CASE WHEN pass AND NOT is_true THEN 1 ELSE 0 END)
                  * 1000000.0
                  / NULLIF(COUNT(*) - SUM(CASE WHEN is_true THEN 1
                                          ELSE 0 END), 0)) AS BIGINT)
         AS fp_ppm
FROM marked
"""


def _bfp_pos_col(i: int, key) -> "F.Column":
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(i), key.cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("long") % _BFP_BITS
    )


@register(
    "bloom_fp_report",
    _bloom_fp_oracle(),
    doc="measured Bloom-filter error: portable md5 bloom (63-bit words) "
        "built from the dim keys, probed by every fact row — pass/true/"
        "false-positive counts and realized FP rate, the report that "
        "validates the pruning family's bits (bloom_pruned_join proves "
        "only output equality); fully distributed — words frame joins "
        "by word index, no driver bitmap",
    tags=("join", "bloom", "diagnostics"),
)
def q_bloom_fp_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_testdata(spark, sf_dir, "customer")
    orders = load_testdata(spark, sf_dir, "orders")
    dimk = (
        cust.filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").alias("key"))
        .dropDuplicates()
    )
    dpos = dimk.select(
        F.explode(
            F.array(*[
                _bfp_pos_col(i, F.col("key")) for i in range(_BFP_K)
            ])
        ).alias("p")
    )
    words = dpos.groupBy(F.expr("p div 63").alias("wi")).agg(
        F.bit_or(
            F.expr("shiftleft(1L, cast(p % 63 as int))")
        ).alias("bits")
    )
    probe = orders.select(
        "o_orderkey", F.col("o_custkey").alias("key")
    )
    ppos = probe.select(
        "o_orderkey", "key",
        F.explode(
            F.array(*[
                _bfp_pos_col(i, F.col("key")) for i in range(_BFP_K)
            ])
        ).alias("p"),
    )
    hit = ppos.join(
        F.broadcast(words),
        F.expr("p div 63") == F.col("wi"),
        "left",
    ).groupBy("o_orderkey", "key").agg(
        F.bool_and(
            F.coalesce(
                F.expr("(bits >> cast(p % 63 as int)) & 1 = 1"),
                F.lit(False),
            )
        ).alias("pass")
    )
    marked = hit.join(
        F.broadcast(dimk.withColumn("_t", F.lit(True))), "key", "left"
    ).select("pass", F.coalesce(F.col("_t"), F.lit(False)).alias("is_true"))
    return marked.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("long")
        .alias("n_pass"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).cast("long")
        .alias("n_true"),
        F.sum(F.when(F.col("pass") & ~F.col("is_true"), 1).otherwise(0))
        .cast("long").alias("n_fp"),
        F.floor(
            F.sum(F.when(F.col("pass") & ~F.col("is_true"), 1).otherwise(0))
            * 1000000.0
            / F.nullif(
                F.count(F.lit(1))
                - F.sum(F.when(F.col("is_true"), 1).otherwise(0)),
                F.lit(0),
            )
        ).cast("long").alias("fp_ppm"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation eval (Kusupati et al. 2022, public): how much
# of the full-dim exact top-5 does retrieval over the FIRST 16 of 64
# dimensions recover? The 100 TB motivation is 4x less vector IO and
# a 4x smaller ANN index when the truncated prefix is good enough —
# this report is the measurement that justifies (or vetoes) the cut.
# Cosine renormalizes per-vector, so truncation needs no re-scaling;
# counts and the recall ppm are integer-exact.
# ---------------------------------------------------------------------------
_MATRYOSHKA_DIMS = 16

_MATRYOSHKA_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
t AS (SELECT vec_id, v[1:{_MATRYOSHKA_DIMS}] AS v FROM e),
fq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
fc AS (SELECT vec_id, v FROM e WHERE vec_id >= 10),
tq AS (SELECT vec_id AS query_id, v AS qv FROM t WHERE vec_id < 10),
tc AS (SELECT vec_id, v FROM t WHERE vec_id >= 10),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT fq.query_id, fc.vec_id,
           ROW_NUMBER() OVER (PARTITION BY fq.query_id
             ORDER BY {_COS.format(a='fq.qv', b='fc.v')} DESC, fc.vec_id)
             AS rank
    FROM fq CROSS JOIN fc
  ) WHERE rank <= 5
), trunc AS (
  SELECT query_id, vec_id FROM (
    SELECT tq.query_id, tc.vec_id,
           ROW_NUMBER() OVER (PARTITION BY tq.query_id
             ORDER BY {_COS.format(a='tq.qv', b='tc.v')} DESC, tc.vec_id)
             AS rank
    FROM tq CROSS JOIN tc
  ) WHERE rank <= 5
), hit AS (
  SELECT t.query_id, t.vec_id FROM trunc t
  JOIN exact x ON x.query_id = t.query_id AND x.vec_id = t.vec_id
)
SELECT
  CAST({_MATRYOSHKA_DIMS} AS BIGINT) AS kept_dims,
  (SELECT COUNT(*) FROM exact) AS n_exact,
  (SELECT COUNT(*) FROM trunc) AS n_trunc,
  (SELECT COUNT(*) FROM hit) AS n_hits,
  CAST(FLOOR((SELECT COUNT(*) FROM hit) * 1000000.0
       / (SELECT COUNT(*) FROM exact)) AS BIGINT) AS recall_ppm
"""


@register(
    "matryoshka_recall",
    _MATRYOSHKA_ORACLE,
    doc="Matryoshka truncation eval: top-5 retrieval over the first "
        "16 of 64 embedding dims vs the full-dim exact top-5 — hit "
        "counts + integer-exact recall ppm in one hash-checked row; "
        "the measurement behind shipping a 4x-smaller ANN index "
        "(truncate -> 4x less vector IO) when the prefix holds recall",
    tags=("similarity", "ann", "diagnostics"),
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    trunc = emb.select(
        "vec_id",
        F.slice("embedding", 1, _MATRYOSHKA_DIMS).alias("embedding"),
    )

    def top5(frame):
        qs = frame.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        corpus = frame.filter(F.col("vec_id") >= 10)
        return (
            S.cosine_topk(corpus, qs, k=5)
            .select("query_id", "vec_id")
            .localCheckpoint()
        )

    exact, tr = top5(emb), top5(trunc)
    hits = tr.join(exact, ["query_id", "vec_id"], "semi")
    n_exact, n_trunc, n_hits = exact.count(), tr.count(), hits.count()
    return spark.createDataFrame(
        [(
            _MATRYOSHKA_DIMS, n_exact, n_trunc, n_hits,
            (n_hits * 1000000) // n_exact,
        )],
        "kept_dims long, n_exact long, n_trunc long, n_hits long, "
        "recall_ppm long",
    )


# ---------------------------------------------------------------------------
# Record linkage with blocking (Fellegi-Sunter-lite): a synthesized
# "dirty" feed of the customer table (names with swapped/dropped
# characters, phones with a flipped digit — deterministic per key) is
# re-linked to the clean table via an EQUALITY join on the blocking
# keys (nation x segment; never a cartesian product) + integer
# per-mille edit-distance scoring + best-match-per-dirty-record. The
# oracle replays the same synthesis, blocking, levenshtein arithmetic,
# and window pick — green means the whole entity-resolution decision
# is engine-exact.
# ---------------------------------------------------------------------------
_LINK_THRESHOLD_PM = 850

_LINK_SYNTH = """
  SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
         'p' || lpad(CAST((c_custkey * 7919) % 10000000 AS VARCHAR),
                     7, '0') AS phone
  FROM customer
"""

_LINK_DIRTY = """
  SELECT c_custkey + 1000000 AS dirty_id, c_nationkey, c_mktsegment,
         CASE CAST(c_custkey % 3 AS INT)
           WHEN 0 THEN substr(c_name, 1, 16) || substr(c_name, 18, 1)
                       || substr(c_name, 17, 1)
           WHEN 1 THEN substr(c_name, 1, 17)
           ELSE c_name
         END AS d_name,
         CASE CAST(c_custkey % 3 AS INT)
           WHEN 0 THEN substr(phone, 1, 7) ||
                       CAST((CAST(substr(phone, 8, 1) AS INT) + 1) % 10
                            AS VARCHAR)
           ELSE phone
         END AS d_phone
  FROM clean
"""

_LINK_ORACLE = f"""
WITH clean AS ({_LINK_SYNTH}),
dirty AS ({_LINK_DIRTY}),
cand AS (
  SELECT d.dirty_id, c.c_custkey AS clean_id,
         (  (1000 - levenshtein(c.c_name, d.d_name) * 1000
             // GREATEST(length(c.c_name), length(d.d_name)))
          + (1000 - levenshtein(c.phone, d.d_phone) * 1000
             // GREATEST(length(c.phone), length(d.d_phone)))
         ) // 2 AS score_pm
  FROM clean c JOIN dirty d
    ON c.c_nationkey = d.c_nationkey
   AND c.c_mktsegment = d.c_mktsegment
), best AS (
  SELECT dirty_id, clean_id, CAST(score_pm AS BIGINT) AS score_pm,
         ROW_NUMBER() OVER (PARTITION BY dirty_id
                            ORDER BY score_pm DESC, clean_id) AS rn
  FROM cand WHERE score_pm >= {_LINK_THRESHOLD_PM}
)
SELECT dirty_id, clean_id, score_pm FROM best WHERE rn = 1
"""


@register(
    "record_linkage",
    _LINK_ORACLE,
    doc="record linkage with blocking: dirty customer feed (swapped/"
        "dropped name chars, flipped phone digit) re-linked to the "
        "clean table via an equi-join on nation x segment blocks, "
        "integer per-mille levenshtein scoring over two fields, and a "
        "best-match window per dirty record — the standard two-source "
        "entity-resolution shape; blocking join shuffles like any "
        "equi-join (no cartesian), scoring is whole-stage codegen",
    tags=("linkage", "dedup", "join"),
)
def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.linkage import blocked_link

    cust = load_testdata(spark, sf_dir, "customer")
    clean = cust.select(
        F.col("c_custkey").alias("clean_id"),
        "c_name", "c_nationkey", "c_mktsegment",
        F.concat(
            F.lit("p"),
            F.lpad(((F.col("c_custkey") * 7919) % 10_000_000)
                   .cast("string"), 7, "0"),
        ).alias("phone"),
    )
    mod3 = (F.col("clean_id") % 3).cast("int")
    d_name = (
        F.when(
            mod3 == 0,
            F.concat(
                F.substring("c_name", 1, 16),
                F.substring("c_name", 18, 1),
                F.substring("c_name", 17, 1),
            ),
        )
        .when(mod3 == 1, F.substring("c_name", 1, 17))
        .otherwise(F.col("c_name"))
    )
    d_phone = F.when(
        mod3 == 0,
        F.concat(
            F.substring("phone", 1, 7),
            ((F.substring("phone", 8, 1).cast("int") + 1) % 10)
            .cast("string"),
        ),
    ).otherwise(F.col("phone"))
    dirty = clean.select(
        (F.col("clean_id") + 1_000_000).alias("dirty_id"),
        "c_nationkey", "c_mktsegment",
        d_name.alias("d_name"), d_phone.alias("d_phone"),
    )
    return blocked_link(
        clean, dirty,
        block_cols=["c_nationkey", "c_mktsegment"],
        fields=[("c_name", "d_name", 1), ("phone", "d_phone", 1)],
        clean_id="clean_id", dirty_id="dirty_id",
        threshold_pm=_LINK_THRESHOLD_PM,
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup. Seed
# centroids are the first 10 corpus vectors (deterministic, replayed
# verbatim by the oracle), assignment is argmax cosine, and within each
# cluster members are ranked outliers-first (centroid-sim ascending —
# the released implementation's keep-priority); a member is dropped
# when any earlier-ranked member is cosine-similar above the
# threshold. The oracle replays assignment, ranking, and the pairwise
# drop decision — green means the entire semantic-dedup decision
# procedure is engine-exact, not just the final counts.
# ---------------------------------------------------------------------------
_SEMDEDUP_TAU = 0.35

_SEMDEDUP_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id < 10),
scored AS (
  SELECT e.vec_id, c.cluster, e.v,
         {_COS.format(a='e.v', b='c.cv')} AS csim
  FROM e CROSS JOIN cent c
),
asg AS (
  SELECT vec_id, cluster, v, csim FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY vec_id ORDER BY csim DESC, cluster
    ) AS rk FROM scored
  ) WHERE rk = 1
),
ranked AS (
  SELECT vec_id, cluster, v,
         ROW_NUMBER() OVER (
           PARTITION BY cluster ORDER BY csim ASC, vec_id
         ) AS prio
  FROM asg
)
SELECT b.vec_id, b.cluster, ROUND(MAX(sim), 6) AS max_prior_sim
FROM (
  SELECT a.cluster, b.vec_id,
         {_COS.format(a='a.v', b='b.v')} AS sim
  FROM ranked a JOIN ranked b
    ON a.cluster = b.cluster AND a.prio < b.prio
) p JOIN ranked b ON p.vec_id = b.vec_id AND p.cluster = b.cluster
WHERE sim >= {_SEMDEDUP_TAU}
GROUP BY b.vec_id, b.cluster
"""


@register(
    "semdedup_drops",
    _SEMDEDUP_ORACLE,
    doc="SemDeDup drop audit: the companion of `semantic_dedup` "
        "(which uses trained k-means + keep-lowest-id) implementing "
        "the released SemDeDup priority rule instead — outliers-first "
        "(centroid-sim ascending) keep order within each cluster, "
        "drop any member cosine-similar above 0.35 to an "
        "earlier-ranked member — and emitting one row per DROPPED "
        "vector with its max-prior-similarity evidence; pairwise "
        "work never crosses a cluster boundary, so with k ∝ N the "
        "per-cluster pair cost stays bounded",
    tags=("similarity", "dedup", "semdedup"),
)
def q_semdedup_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_testdata(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("cluster"),
        S.as_double_vec(F.col("embedding")).alias("cv"),
    )
    return S.semdedup_drops(emb, cent, threshold=_SEMDEDUP_TAU)


# ---------------------------------------------------------------------------
# Sketch-merge rollup: the property that makes sketches worth carrying
# at 100 TB is MERGEABILITY — per-day HLL registers roll up to the
# global estimate by a MAX re-aggregate over sketch state, never a
# re-scan of the raw data. This query computes per-day distinct-user
# estimates AND the merged-all-days estimate from the same register
# frame; the oracle replays both paths (registers, merge, shared
# estimator expression), so green hash-checks the merge algebra
# itself, not just one estimate.
# ---------------------------------------------------------------------------
def _hll_rollup_oracle() -> str:
    from ..extensions.sketches import _hll_estimator_sql

    m = 1 << _HLL_P
    est = _hll_estimator_sql(m)
    return f"""
WITH h AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {m} AS bkt,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 9, 8))
              AS BIGINT) AS w
  FROM events WHERE user_id IS NOT NULL
), r AS (
  SELECT day, bkt,
         MAX(CASE WHEN w = 0 THEN 33 ELSE 33 - LENGTH(bin(w)) END) AS mreg
  FROM h GROUP BY 1, 2
), a AS (
  SELECT day,
         SUM(CAST(POWER(2.0, 40 - mreg) AS BIGINT))
           + ({m} - COUNT(*)) * CAST(POWER(2.0, 40) AS BIGINT) AS sum_int,
         {m} - COUNT(*) AS n_zero
  FROM r GROUP BY 1
), mr AS (
  SELECT bkt, MAX(mreg) AS mreg FROM r GROUP BY 1
), ma AS (
  SELECT SUM(CAST(POWER(2.0, 40 - mreg) AS BIGINT))
           + ({m} - COUNT(*)) * CAST(POWER(2.0, 40) AS BIGINT) AS sum_int,
         {m} - COUNT(*) AS n_zero
  FROM mr
)
SELECT 'day' AS level, CAST(day AS VARCHAR) AS grp,
       CAST(FLOOR(({est}) + 0.5) AS BIGINT) AS approx_users
FROM a
UNION ALL
SELECT 'all' AS level, '*' AS grp,
       CAST(FLOOR(({est}) + 0.5) AS BIGINT) AS approx_users
FROM ma
"""


@register(
    "hll_merge_rollup",
    _hll_rollup_oracle(),
    doc="HLL sketch-merge rollup: per-day distinct-user registers "
        "estimated at day grain AND max-merged into the global "
        "estimate from sketch state alone (no raw re-scan) — the "
        "mergeability contract that lets a 100 TB pipeline compute "
        "registers once at the finest grain and derive every coarser "
        "rollup from kilobytes of state; both paths replayed by the "
        "oracle",
    tags=("sketch", "approx", "rollup"),
)
def q_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sketches import (
        hll_estimate_from_registers,
        hll_merge_registers,
        hll_registers,
    )

    ev = load_testdata(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    regs = hll_registers(ev, ["day"], "user_id", p=_HLL_P)
    daily = hll_estimate_from_registers(regs, ["day"], _HLL_P).select(
        F.lit("day").alias("level"),
        F.col("day").cast("string").alias("grp"),
        "approx_users",
    )
    overall = hll_estimate_from_registers(
        hll_merge_registers(regs, []), [], _HLL_P
    ).select(
        F.lit("all").alias("level"),
        F.lit("*").alias("grp"),
        "approx_users",
    )
    return daily.unionByName(overall)

"""Similarity search over embedding columns (array<float>).

Two tiers (SURVEY §2.12):

* **Brute-force cosine top-k** (``cosine_topk``) — exact baseline. The
  query set is broadcast (it's small by definition); the corpus is
  scanned once, each partition computes partial top-k via window over
  the broadcast-joined pairs. Linear in |corpus| x |queries|.
* **LSH-bucketed ANN** (``lsh_bucket``, ``ann_lsh_topk``) — the scale
  path: sign-random-projection buckets; only same-bucket pairs are
  scored. Hyperplanes are derived from a deterministic integer mixer
  (splitmix64) so results are reproducible without any RNG state.

All vector math is built-in higher-order functions (``zip_with`` +
``aggregate``) over doubles — JVM-side, and bit-identical to the DuckDB
oracle's ``list_dot_product`` (verified: sequential fold, same order).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_double_vec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB list_dot_product
    bit-for-bit on doubles)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """NULL (not error) for zero vectors: ANSI mode raises on /0; the
    oracle mirrors with NULLIF."""
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force).

    ``queries`` must be small (broadcast). Ties beyond double precision
    are broken by id for deterministic output.

    Norms are computed ONCE PER ROW on each side of the join, not inside
    the per-pair cosine: the array folds are CodegenFallback (interpreted),
    and a per-pair ``cosine()`` re-runs both norm folds |queries| times
    per corpus vector. Hoisting them leaves one dot fold per pair — the
    irreducible brute-force work. sqrt(dot(v,v)) per row is the exact
    same IEEE value the inline form produced, so scores are bit-identical
    (oracle unchanged)."""
    c = corpus.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("_cv")
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    q = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("_qv")
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    sim = dot(F.col("_qv"), F.col("_cv")) / F.nullif(
        F.col("_qn") * F.col("_cn"), F.lit(0.0)
    )
    scored = c.join(F.broadcast(q)).select(
        query_id_col, id_col, sim.alias("_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round(F.col("_sim"), 6).alias("cosine"),
            "rank",
        )
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    bucketed: bool = True,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Pairs with cosine >= threshold.

    Default (``bucketed=True``) is the scale path: an OR-construction of
    ``num_tables`` independent sign-random-projection tables, each
    hashing to 2^``num_planes`` buckets. Only pairs colliding in at
    least one table are scored — the non-equi `id_a < id_b` predicate
    rides on a (table, bucket) equi-join, so the plan is a shuffled hash
    join, not a broadcast nested loop. Recall for a pair at angle theta:
    1 - (1 - (1-theta/pi)^planes)^tables — more tables raises recall,
    more planes shrinks buckets (raise both as the corpus grows; bucket
    occupancy n/2^planes bounds the per-bucket quadratic term).

    ``bucketed=False`` is the exact all-pairs O(n^2) form — the
    verification/oracle tier; never run it on a full corpus.

    ``dim`` defaults to the data's own vector length (derived from one
    row); an explicit mismatching value raises — a wrong dim would make
    ``zip_with`` pad with nulls, every projection NULL, every vector
    land in one bucket, and the LSH silently degenerate to all-pairs."""
    # norm once per VECTOR, not once per pair: the fold is interpreted
    # (CodegenFallback), and a per-pair cosine() would re-run both norm
    # folds for every candidate pair — |pairs| >= |vectors| always.
    # sqrt(dot(v,v)) per row is the exact IEEE value the inline form
    # produced, so scores (and the oracle) are unchanged.
    v = df.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    if bucketed:
        dim = _resolve_dim(v, "_v", dim)
        keys = F.array(
            *[
                F.struct(
                    F.lit(t).alias("tbl"),
                    lsh_bucket(
                        F.col("_v"), hyperplanes(dim, num_planes, seed + t)
                    ).alias("bkt"),
                )
                for t in range(num_tables)
            ]
        )
        v = v.withColumn("_bucket", F.explode(keys))
        a = v.select(
            F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
            F.col("_n").alias("_na"), "_bucket"
        )
        b = v.select(
            F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
            F.col("_n").alias("_nb"), "_bucket"
        )
        # dedup (a pair can collide in several tables) BEFORE the cosine:
        # the score is the expensive part at real dimensionality
        joined = (
            a.join(b, "_bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        a = v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
                     F.col("_n").alias("_na"))
        b = v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
                     F.col("_n").alias("_nb"))
        joined = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = dot(F.col("_va"), F.col("_vb")) / F.nullif(
        F.col("_na") * F.col("_nb"), F.lit(0.0)
    )
    return (
        joined.select("id_a", "id_b", sim.alias("_sim"))
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", F.round(F.col("_sim"), 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# LSH (sign random projection) — deterministic hyperplanes
# ---------------------------------------------------------------------------

def _resolve_dim(df: DataFrame, vec_col: str, dim: int | None) -> int:
    """Derive the hyperplane dimensionality from the data (one-row probe)
    or validate an explicit value against it. Guards the silent-NULL
    degeneration a wrong dim causes in ``zip_with`` projections."""
    probe = df.select(F.size(F.col(vec_col)).alias("n")).first()
    if probe is None:  # empty input: any dim yields an empty result
        return dim if dim is not None else 1
    actual = probe["n"]
    if dim is None:
        return actual
    if dim != actual:
        raise ValueError(
            f"hyperplane dim {dim} != embedding length {actual}; "
            "a mismatch would NULL every projection and collapse all "
            "vectors into one LSH bucket"
        )
    return dim


def _splitmix64(x: int) -> int:
    """Public-domain splitmix64 mixer — deterministic hyperplane source."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """num_planes x dim matrix of +-1 entries from splitmix64(seed, j, d)."""
    return [
        [
            1.0 if _splitmix64(seed * 1_000_003 + j * dim + d) & 1 else -1.0
            for d in range(dim)
        ]
        for j in range(num_planes)
    ]


def lsh_bucket(
    vec: Column, planes: list[list[float]]
) -> Column:
    """Bucket id: sign bit of <v, plane_j> for each hyperplane, packed
    into a long. Same-bucket vectors are ANN candidates."""
    bucket = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        proj = dot(vec, F.array(*[F.lit(w) for w in plane]))
        bit = F.when(proj >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str = "_v",
    centroid_id_col: str = "cluster",
    centroid_vec_col: str = "cv",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroids (by
    cosine). Centroids are tiny -> broadcast; output (id, cluster).

    r15: norms hoisted out of the per-(vector, centroid) cosine — each
    side's norm fold runs once per ROW instead of once per pair
    (bit-identical values, same mechanism as cosine_topk)."""
    v = vectors.withColumn("_ian", l2_norm(F.col(vec_col)))
    c = centroids.withColumn("_icn", l2_norm(F.col(centroid_vec_col)))
    sim = dot(F.col(vec_col), F.col(centroid_vec_col)) / F.nullif(
        F.col("_ian") * F.col("_icn"), F.lit(0.0)
    )
    scored = v.join(F.broadcast(c)).select(
        F.col(id_col), F.col(centroid_id_col), sim.alias("_csim")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_csim").desc(), F.col(centroid_id_col)
    )
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_probe)
        .select(id_col, centroid_id_col)
    )


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|v| / 127,
    q_i = floor(v_i / scale + 0.5) — the training-data storage reducer
    (4x smaller embedding tables; dot products on int8 with one
    rescale).

    floor(x + 0.5) instead of round(): ROUND-half semantics differ
    between engines on doubles, floor does not — making the operator
    exactly oracle-checkable. Zero vectors quantize to NULL (scale 0
    guarded by NULLIF semantics).
    """
    v = as_double_vec(F.col(vec_col))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    safe = F.nullif(scale, F.lit(0.0))
    q = F.transform(v, lambda x: F.floor(x / safe + 0.5).cast("int"))
    return df.select(
        F.col(id_col),
        safe.alias("scale"),
        F.when(safe.isNotNull(), q).alias("q"),
    )


def kmeans_centroids_train(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means, entirely as DataFrame ops — the
    centroid trainer for :func:`ivf_topk` (k-means at scale is exactly
    this loop on a cluster; MLlib's implementation has the same shape).

    Seeding: the ``k`` lowest-id vectors (no RNG state, reruns match).
    Each iteration: assign every vector to its nearest centroid by
    cosine (broadcast centroids, one corpus scan), then recompute each
    centroid as the member mean via posexplode + per-(cluster, dim)
    average — two shuffles per iteration, both on small keys. The
    centroid frame is localCheckpoint-ed per iteration to truncate
    lineage (standard for iterative algorithms; without it, iteration i
    re-evaluates all prior iterations). Empty clusters drop out
    (classic Lloyd behavior), so the result may have < k rows.
    Returns (cluster, centroid) with centroid an array<double> — the
    frame shape :func:`ivf_topk`, :func:`ivf_index_build` and
    ``streaming.annindex.IvfIndexSink`` read.
    """
    c = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("_v"))
    w0 = Window.orderBy(id_col)
    centroids = (
        c.orderBy(id_col)
        .limit(k)
        .withColumn("cluster", F.row_number().over(w0) - 1)
        .select("cluster", F.col("_v").alias("cv"))
        .localCheckpoint()
    )
    for _ in range(iters):
        assign = ivf_assign(c, centroids, id_col, n_probe=1)
        members = c.join(assign, id_col).select(
            "cluster", F.posexplode("_v").alias("dim", "val")
        )
        centroids = (
            members.groupBy("cluster", "dim")
            # decimal-exact mean: a parallel double sum is order-dependent
            # in its last bits, which would make centroids (and every
            # downstream assignment) vary run-to-run and diverge from the
            # SQL oracle; the decimal sum is exact, so the mean is
            # bit-identical regardless of partitioning or engine
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(18,10)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .groupBy("cluster")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "m"))
                ).alias("_dm")
            )
            .select(
                "cluster",
                F.transform(F.col("_dm"), lambda s: s["m"]).alias("cv"),
            )
            .localCheckpoint()
        )
    return centroids.withColumnRenamed("cv", "centroid")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: corpus vectors are inverted-listed under their
    nearest centroid; each query probes its ``n_probe`` nearest lists and
    scores only those vectors.

    This is the other scale path besides LSH: cluster quality controls
    recall, ``n_probe`` trades recall for compute, and the expensive
    exact scoring runs on ~n_probe/n_clusters of the corpus. Centroids
    come from anywhere (here: per-label means, see the label_centroids
    query; k-means at scale)."""
    c = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("_v"))
    q = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("_v")
    )
    cent = centroids.select(
        F.col("cluster"), as_double_vec(F.col("centroid")).alias("cv")
    )
    c_assign = ivf_assign(c, cent, id_col, n_probe=1)
    q_assign = ivf_assign(q, cent, query_id_col, n_probe=n_probe)
    scored = (
        c.join(c_assign, id_col)
        .join(
            F.broadcast(
                q.join(q_assign, query_id_col).select(
                    query_id_col, F.col("_v").alias("_qv"), "cluster"
                )
            ),
            "cluster",
        )
        .select(
            query_id_col, id_col,
            F.col("_v").alias("_cv2"), F.col("_qv"),
        )
        .withColumn("_sim", cosine(F.col("_qv"), F.col("_cv2")))
        .select(query_id_col, id_col, "_sim")
        .dropDuplicates([query_id_col, id_col])
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col,
            F.round(F.col("_sim"), 6).alias("cosine"), "rank",
        )
    )


def ivf_index_build(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materialize the IVF inverted-list index ``(cluster, id, v)``:
    every corpus vector assigned once to its nearest frozen centroid.

    This is the persisted form of what :func:`ivf_topk` computes on the
    fly — at scale it's written as parquet PARTITIONED BY cluster, so a
    probe with ``n_probe`` lists reads ~n_probe/k of the data via
    partition pruning and everything else is skipped at the file level."""
    c = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("_v"))
    cent = centroids.select(
        "cluster", as_double_vec(F.col("centroid")).alias("cv")
    )
    assign = ivf_assign(c, cent, id_col, n_probe=1)
    return c.join(assign, id_col).select(
        "cluster", F.col(id_col), F.col("_v").alias("v")
    )


def ivf_index_append(
    index: DataFrame,
    centroids: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fold a NEW batch of vectors into an existing IVF index without
    retraining: assign only the batch against the FROZEN centroids and
    blind-union the new list rows — O(|batch| * k) work and, on disk,
    appended files inside the touched cluster partitions only; the
    existing index is never rewritten.

    Because assignment is a pure per-vector function of the frozen
    centroids, append-then-probe is EXACTLY equivalent to rebuilding the
    index over old+new (the ``ivf_incremental_topk`` query hash-checks
    this equivalence against a one-shot SQL oracle). The cost is centroid
    staleness: as the ingested distribution drifts, list balance degrades
    — monitor with ``extensions.sketches.histogram_drift`` over list
    sizes and periodically retrain + rebuild."""
    return index.unionByName(
        ivf_index_build(batch, centroids, id_col, vec_col)
    )


def ivf_index_topk(
    index: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Probe a persisted IVF index (from :func:`ivf_index_build` /
    :func:`ivf_index_append`): queries pick their ``n_probe`` nearest
    lists, exact cosine scoring runs only inside those lists, per-query
    top-k via WindowGroupLimit. Same plan shape as :func:`ivf_topk`
    minus the corpus-assignment join — the index already carries it."""
    cent = centroids.select(
        "cluster", as_double_vec(F.col("centroid")).alias("cv")
    )
    q = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("_v")
    )
    q_assign = ivf_assign(q, cent, query_id_col, n_probe=n_probe)
    scored = (
        index.join(
            F.broadcast(
                q.join(q_assign, query_id_col).select(
                    query_id_col, F.col("_v").alias("_qv"), "cluster"
                )
            ),
            "cluster",
        )
        .withColumn("_sim", cosine(F.col("_qv"), F.col("v")))
        .select(query_id_col, id_col, "_sim")
        .dropDuplicates([query_id_col, id_col])
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col,
            F.round(F.col("_sim"), 6).alias("cosine"), "rank",
        )
    )


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
    num_planes: int = 8,
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    bucket. Recall/cost dials: fewer planes -> bigger buckets -> higher
    recall, more compute. The equi-join on bucket replaces the full
    cross product — this is what survives 100 TB.

    ``dim`` defaults to the corpus's own vector length (see
    ``_resolve_dim``)."""
    c = corpus.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("_cv")
    )
    planes = hyperplanes(_resolve_dim(c, "_cv", dim), num_planes, seed)
    c = c.withColumn("_bucket", lsh_bucket(F.col("_cv"), planes))
    q = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("_qv")
    ).withColumn("_bucket", lsh_bucket(F.col("_qv"), planes))
    sim = cosine(F.col("_qv"), F.col("_cv"))
    scored = c.join(F.broadcast(q), "_bucket").select(
        query_id_col, id_col, sim.alias("_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round(F.col("_sim"), 6).alias("cosine"),
            "rank",
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 4,
    threshold: float = 0.35,
) -> DataFrame:
    """SemDedup-style embedding dedup: k-means partitions the corpus,
    then near-duplicates are detected WITHIN each cluster only.

    The cluster assignment bounds the pair join — the quadratic term is
    per-cluster occupancy (n/k on balanced data), not corpus size; at
    100 TB you raise k until clusters fit, exactly as the SemDedup paper
    scales. Pairs crossing a cluster boundary are missed by design
    (that's the recall/compute dial).

    Drop rule (deterministic): a vector is dropped iff some SMALLER-id
    vector in the same cluster is within ``threshold`` cosine — the
    greedy keep-lowest-id rule, with no dependence on drop order.
    Returns every row: (id, cluster, is_kept).
    """
    cents = kmeans_centroids_train(df, k=k, iters=iters,
                                   id_col=id_col, vec_col=vec_col)
    v = df.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("_v"))
    assign = ivf_assign(v, cents, id_col, centroid_vec_col="centroid",
                        n_probe=1)
    x = assign.join(v, id_col)
    a = x.select(
        F.col(id_col).alias("_ida"), F.col("cluster"), F.col("_v").alias("_va")
    )
    b = x.select(
        F.col(id_col).alias("_idb"), F.col("cluster"), F.col("_v").alias("_vb")
    )
    dup = (
        a.join(b, "cluster")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select(F.col("_idb").alias(id_col))
        .dropDuplicates()
        .withColumn("_dup", F.lit(True))
    )
    return (
        x.join(dup, id_col, "left")
        .select(
            id_col,
            "cluster",
            F.col("_dup").isNull().alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the memory-bound ANN tier.
# ---------------------------------------------------------------------------
def pq_train(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train per-subspace codebooks: split each vector into ``m``
    contiguous subvectors and run the deterministic k-means trainer
    inside each subspace. Returns (sub, cluster, cv).

    At 100 TB this is the memory story: a 64-dim float corpus compresses
    to m bytes/vector (here 4) plus one tiny codebook (m*k subvectors)
    that broadcasts everywhere — the corpus scan for search reads codes,
    not floats."""
    v = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("_v"))
    dim = _resolve_dim(v, "_v", None)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m
    # all m subspaces as one frame keyed by subspace id: trains in ONE
    # partitioned-k-means loop (iters checkpoints total, not m*iters)
    subs = v.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("_v", s * sub_d + 1, sub_d).alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("_e"),
    ).select(id_col, F.col("_e.sub").alias("sub"), F.col("_e.sv").alias("_v"))
    return kmeans_partitioned_train(
        subs, "sub", k=k, iters=iters, id_col=id_col, vec_col="_v"
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub, code): each subvector's nearest codebook entry by
    cosine — the compressed corpus representation (long form; m rows
    per vector, the join-friendly shape for ADC scoring)."""
    v = corpus.select(F.col(id_col), as_double_vec(F.col(vec_col)).alias("_v"))
    dim = _resolve_dim(v, "_v", None)
    sub_d = dim // m
    subs = v.select(
        F.col(id_col),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("_v", s * sub_d + 1, sub_d).alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("_e"),
    ).select(id_col, F.col("_e.sub").alias("sub"), F.col("_e.sv").alias("_sv"))
    # one broadcast join + one dedup window covers ALL subspaces;
    # norms hoisted per-row/per-entry out of the per-pair cosine (r15,
    # bit-identical — same mechanism as cosine_topk)
    subs = subs.withColumn("_svn", l2_norm(F.col("_sv")))
    cb = codebooks.withColumn("_cvn", l2_norm(F.col("cv")))
    sim = dot(F.col("_sv"), F.col("cv")) / F.nullif(
        F.col("_svn") * F.col("_cvn"), F.lit(0.0)
    )
    scored = subs.join(F.broadcast(cb), "sub").select(
        id_col, "sub", F.col("cluster").alias("code"), sim.alias("_s")
    )
    w = Window.partitionBy(id_col, "sub").orderBy(
        F.col("_s").desc(), F.col("code")
    )
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select(id_col, "sub", "code")
    )


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: per query, build the (sub, code) ->
    partial-inner-product lookup table against the codebooks (m*k
    entries, broadcast), then score every corpus vector by summing its
    codes' entries — ONE broadcast join on (sub, code) + one aggregate;
    the float corpus is never touched.

    Approximation: inner product against the quantized corpus (cosine
    ordering up to per-vector norm error — the classic ADC trade)."""
    qv = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("_qv")
    )
    dim = _resolve_dim(qv, "_qv", None)
    sub_d = dim // m
    qsubs = qv.select(
        query_id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice("_qv", s * sub_d + 1, sub_d).alias("qs"),
                )
                for s in range(m)
            ])
        ).alias("_e"),
    ).select(query_id_col, F.col("_e.sub").alias("sub"),
             F.col("_e.qs").alias("_qs"))
    table = qsubs.join(codebooks, "sub").select(
        query_id_col, "sub", F.col("cluster").alias("code"),
        dot(F.col("_qs"), F.col("cv")).alias("_p"),
    )
    scored = (
        codes.join(F.broadcast(table), ["sub", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("_p"), 9).alias("_adc"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_adc").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col,
                F.round("_adc", 6).alias("adc_score"), "rank")
    )


def pq_search(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    n_codes: int = 16,
    iters: int = 3,
    shortlist: int = 50,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production two-stage PQ pipeline: ADC over the compressed
    corpus builds a ``shortlist`` per query (the float corpus is never
    scanned), then ONLY the shortlist rows re-rank by exact cosine.

    This is how quantized ANN actually ships (FAISS IVFPQ + refine): the
    quantizer's job is candidate pruning, the exact metric's job is
    final order — ADC ranking error beyond the shortlist boundary is
    irrelevant. Per query the exact stage touches ``shortlist`` vectors
    instead of the corpus; the semi-join on (query, id) keys is the only
    place floats are read."""
    books = pq_train(
        corpus, m=m, k=n_codes, iters=iters, id_col=id_col, vec_col=vec_col
    ).localCheckpoint()
    codes = pq_encode(corpus, books, m=m, id_col=id_col, vec_col=vec_col)
    short = pq_topk(
        codes, books, queries, k=shortlist, m=m,
        id_col=id_col, query_id_col=query_id_col, vec_col=vec_col,
    ).select(query_id_col, id_col)
    cv = corpus.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("_cv")
    )
    qv = queries.select(
        F.col(query_id_col), as_double_vec(F.col(vec_col)).alias("_qv")
    )
    exact = (
        short.join(cv, id_col)
        .join(F.broadcast(qv), query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine(F.col("_qv"), F.col("_cv")).alias("_sim"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_sim").desc(), F.col(id_col)
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col,
                F.round("_sim", 6).alias("cosine"), "rank")
    )


def kmeans_partitioned_train(
    vectors: DataFrame,
    part_col: str,
    k: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "_v",
) -> DataFrame:
    """Deterministic Lloyd's k-means trained INDEPENDENTLY per
    partition key, in ONE iteration loop: every subspace/shard/tenant
    trains simultaneously because the partition key simply rides along
    in the assignment window and the mean aggregation.

    This is the scale shape for anything that trains many small models
    (PQ codebooks: one per subspace; per-tenant clusterings): iters
    checkpoints total instead of iters * n_partitions sequential loops,
    and one broadcast of all centroids instead of n_partitions plan
    branches. Same seeding/tie-break discipline as
    :func:`kmeans_centroids_train`, so results per partition are
    identical to training that partition alone."""
    v = vectors.select(
        F.col(part_col).alias("_p"), F.col(id_col), F.col(vec_col).alias("_v")
    )
    w0 = Window.partitionBy("_p").orderBy(id_col)
    centroids = (
        v.withColumn("_r", F.row_number().over(w0))
        .filter(F.col("_r") <= k)
        .select("_p", (F.col("_r") - 1).alias("cluster"),
                F.col("_v").alias("cv"))
        .localCheckpoint()
    )
    # r15: the vector-side norm is loop-invariant (computed once, before
    # the iterations); the centroid-side norm is computed once per
    # centroid per round — the inline cosine re-ran both folds per
    # (vector, centroid) pair every round (bit-identical values)
    vn = v.withColumn("_nv", l2_norm(F.col("_v")))
    for _ in range(iters):
        cb = centroids.withColumn("_nc", l2_norm(F.col("cv")))
        sim = dot(F.col("_v"), F.col("cv")) / F.nullif(
            F.col("_nv") * F.col("_nc"), F.lit(0.0)
        )
        scored = vn.join(F.broadcast(cb), "_p").select(
            "_p", id_col, "_v", "cluster", sim.alias("_s")
        )
        wa = Window.partitionBy("_p", id_col).orderBy(
            F.col("_s").desc(), F.col("cluster")
        )
        assign = (
            scored.withColumn("_r", F.row_number().over(wa))
            .filter(F.col("_r") == 1)
            .select("_p", id_col, "_v", "cluster")
        )
        members = assign.select(
            "_p", "cluster", F.posexplode("_v").alias("dim", "val")
        )
        centroids = (
            members.groupBy("_p", "cluster", "dim")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(18,10)")).cast("double")
                    / F.count(F.lit(1))
                ).alias("m")
            )
            .groupBy("_p", "cluster")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("_dm")
            )
            .select(
                "_p", "cluster",
                F.transform(F.col("_dm"), lambda s: s["m"]).alias("cv"),
            )
            .localCheckpoint()
        )
    return centroids.select(F.col("_p").alias(part_col), "cluster", "cv")


def cosine_topk_filtered(
    corpus: DataFrame,
    queries: DataFrame,
    filter_cols: list[str],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 5,
) -> DataFrame:
    """Filtered vector search: exact top-k among corpus rows whose
    ``filter_cols`` EQUAL the query's — the metadata-constrained ANN
    every vector store sells (category-scoped neighbors, tenant
    isolation, language-matched retrieval).

    The filter IS the join key: the broadcast hash join on
    ``filter_cols`` prunes candidates BEFORE any cosine is computed,
    so a predicate with selectivity 1/s cuts scoring work by s — the
    filter never runs as a post-scoring residual. Ties break by id."""
    c = corpus.select(
        F.col(id_col), *[F.col(f) for f in filter_cols],
        as_double_vec(F.col(vec_col)).alias("_cv"),
    )
    q = queries.select(
        F.col(query_id_col), *[F.col(f) for f in filter_cols],
        as_double_vec(F.col(vec_col)).alias("_qv"),
    )
    scored = c.join(F.broadcast(q), filter_cols).select(
        query_id_col, id_col, cosine(F.col("_qv"), F.col("_cv")).alias("_sim")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col, id_col,
            F.round("_sim", 6).alias("cosine"), "rank",
        )
    )


def semdedup_drops(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication, the SemDeDup recipe (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus, then WITHIN each cluster
    rank members by centroid similarity ascending (outliers first — the
    released implementation keeps low-centroid-sim items) and drop any
    member whose cosine to some earlier-ranked member reaches
    ``threshold``.  Pairwise work never crosses a cluster boundary.

    Scale shape: assignment is one corpus scan against broadcast
    centroids; the candidate join shuffles once on the cluster id and
    scores only same-cluster pairs — with k chosen ∝ N (the paper uses
    ~0.1% of N) the per-cluster member count, and hence the pair
    count, stays bounded.  All vector math is the sequential-fold
    ``dot`` above, bit-identical to the oracle's list_dot_product.

    ``centroids`` must be small (broadcast): (cluster, cv) with cv
    array<double>.  Returns one row per DROPPED member: (id, cluster,
    max_prior_sim rounded to 6) — the audit trail of what semantic
    dedup removed and why.
    """
    # r15: norms hoisted once per VECTOR (and per centroid) out of both
    # per-pair cosines — assignment and the same-cluster pair scoring;
    # the member norm rides the cluster shuffle as one extra double
    # (bit-identical values, same mechanism as cosine_topk)
    v = vectors.select(
        F.col(id_col), as_double_vec(F.col(vec_col)).alias("_v")
    ).withColumn("_n", l2_norm(F.col("_v")))
    cent = centroids.select(
        "cluster", F.col("cv").alias("_cv")
    ).withColumn("_cn", l2_norm(F.col("_cv")))
    w_assign = Window.partitionBy(id_col).orderBy(
        F.col("_csim").desc(), F.col("cluster")
    )
    csim = dot(F.col("_v"), F.col("_cv")) / F.nullif(
        F.col("_n") * F.col("_cn"), F.lit(0.0)
    )
    assigned = (
        v.join(F.broadcast(cent))
        .withColumn("_csim", csim)
        .withColumn("_rk", F.row_number().over(w_assign))
        .filter(F.col("_rk") == 1)
        .select(id_col, "cluster", "_csim", "_v", "_n")
    )
    w_prio = Window.partitionBy("cluster").orderBy(
        F.col("_csim").asc(), F.col(id_col)
    )
    ranked = assigned.withColumn("_prio", F.row_number().over(w_prio))
    a = ranked.select(
        F.col("cluster"),
        F.col("_prio").alias("_pa"), F.col("_v").alias("_va"),
        F.col("_n").alias("_na"),
    )
    b = ranked.select(
        F.col(id_col), F.col("cluster"),
        F.col("_prio").alias("_pb"), F.col("_v").alias("_vb"),
        F.col("_n").alias("_nb"),
    )
    pair_sim = dot(F.col("_va"), F.col("_vb")) / F.nullif(
        F.col("_na") * F.col("_nb"), F.lit(0.0)
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("_pa") < F.col("_pb"))
        .withColumn("_sim", pair_sim)
        .filter(F.col("_sim") >= F.lit(threshold))
        .groupBy(id_col, "cluster")
        .agg(F.round(F.max("_sim"), 6).alias("max_prior_sim"))
    )

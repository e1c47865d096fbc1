"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale ladder (what you'd run on 100 TB of documents):

1. **Exact** (``exact_dedup``): md5-of-normalized-text groupBy — one
   shuffle on the fingerprint, map-side partial agg; always run first.
2. **MinHash + LSH** (``minhash_signatures`` / ``lsh_candidate_pairs``):
   the scalable near-dup path. Cost is linear in corpus size + the
   candidate-join: docs collide only when a whole band of minhashes
   matches, so the self-join touches a tiny fraction of all pairs.
3. **Exact Jaccard** (``ngram_jaccard_pairs``): inverted-index self-join
   on shingles. Quadratic in per-shingle frequency — the *verification*
   stage after LSH at scale (or the whole job at small scale). This is
   the oracle-checked ground truth the probabilistic ops approximate.
4. **SimHash** (``simhash``): 64-bit signature; near-dups differ in few
   bits. Banded equality join over bit-chunks finds Hamming-close pairs
   without a quadratic scan.

All hashes are deterministic (xxhash64 with fixed seeds) — reruns and
tests are reproducible; no Python in the per-row path except the
documented SimHash pandas_udf (bit-packing has no builtin expression).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as X


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: fingerprint -> (keep_id, n_dups).

    Keep-policy: lowest id wins (deterministic; the reference's
    insert-if-absent keeps the first-seen row, A2)."""
    return (
        df.select(F.col(id_col), X.fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def drop_exact_dups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus with only the keeper row of each exact-dup group."""
    keepers = exact_dedup(df, id_col, text_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


def _tokenized(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token-array) with two perf guards: repartition BEFORE the
    regex-heavy normalization (a small single-file input would otherwise
    run it on one task), and materialize tokens as a real column so
    downstream higher-order lambdas don't re-evaluate the regex chain
    per array element.

    The repartition hashes on the id column, NOT round-robin: round-robin
    is nondeterministic, which disables exchange reuse — and the jaccard
    plan consumes this subtree twice (pairs + sizes), so determinism here
    halves the scan/regex work via ReusedExchange."""
    npart = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(npart, F.col(id_col)).select(
        F.col(id_col), X.tokens(F.col(text_col)).alias("_w")
    )


def _distinct_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return _tokenized(df, id_col, text_col).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(X.word_shingles(F.col("_w"), n))
        ).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.1,
    max_df: int | None = None,
    log_dropped: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs via an inverted index: group
    doc-ids per shingle, emit ordered pairs map-side, count per pair.

    Shuffle profile: one exchange on `shingle` (building the inverted
    index), one on the (doc_a, doc_b) pair — the pair fan-out happens
    inside a task via higher-order expressions, which measures ~2x
    faster than the equivalent self-join (no hash-build, no join probe).

    ``max_df`` is the stop-shingle cap: shingles appearing in more than
    ``max_df`` documents are dropped from the shingle universe BEFORE
    pair generation (sizes and intersections both computed on the kept
    universe, so jaccard stays a true Jaccard over kept shingles). A
    zipfian corpus has a few shingles with df in the millions; each one
    alone fans out df^2/2 pairs, so an uncapped run dies at scale while
    the cap bounds per-shingle work at max_df^2/2. Set it above the
    expected duplicate-cluster size (a cluster of k near-identical docs
    has legitimate df=k shingles). ``log_dropped=True`` counts and logs
    the dropped shingles (costs one extra action).
    """
    sh = _distinct_shingles(df, id_col, text_col, n)
    # explicit partition count: pair explosion is CPU-bound even when the
    # input is tiny, and AQE would coalesce a small input to one
    # partition; a user repartition pins parallelism
    npart = df.sparkSession.sparkContext.defaultParallelism
    sh = sh.repartition(npart, "shingle")
    # r15 restructure (profiled: the old sizes branch re-ran the
    # collect_list aggregation — exchange reuse covers only the shuffle,
    # each consumer stage re-aggregates): the stop-shingle cap is now a
    # cheap COUNT over the same shingle exchange + an anti-join of the
    # hot shingles (both partition-aligned with the exchange — zero new
    # full-stream shuffle), the index collect_list runs ONCE over the
    # kept stream (hot ids are never buffered into arrays — a memory
    # win at scale), and sizes aggregate the kept stream directly: a
    # COUNT partial-aggregates map-side, so its exchange moves
    # ~|docs| x npart partial rows, not the stream.
    if max_df is not None:
        dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        hot = dfc.filter(F.col("_df") > max_df).select("shingle")
        if log_dropped:
            dropped = hot.count()
            import logging

            logging.getLogger(__name__).info(
                "ngram_jaccard_pairs: dropped %d stop-shingles (df > %d)",
                dropped, max_df,
            )
        kept = sh.join(hot.hint("shuffle_hash"), "shingle", "left_anti")
    else:
        kept = sh
    groups = kept.groupBy("shingle").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    )
    # doc sizes over the KEPT shingle universe
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        groups.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    # sizes is one row per doc — small at test SF (AQE broadcasts it) but
    # NOT broadcastable at corpus scale, so leave the join strategy to AQE
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("shared") * F.lit(1.0) / (F.col("na") + F.col("nb") - F.col("shared"))
    # SHUFFLE_HASH on the per-doc size side: without a hint the static
    # planner may estimate the PAIR table as small and broadcast it —
    # at an 8x synthetic corpus that broadcast OOMs the driver, and at
    # 100 TB the pair side is never broadcastable. Shuffled-hash builds from the bounded size-table
    # partition instead: scale-safe at every size, no sort.
    return (
        pairs.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "shared", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting, MOSS-style)
# ---------------------------------------------------------------------------

def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    window: int = 8,
) -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD'03): hash every k-char gram of
    the normalized text, slide a window of ``window`` consecutive gram
    hashes, keep the minimum of each window (rightmost on ties), dedup.
    Any doc pair sharing a run of >= k + window - 1 identical characters
    is guaranteed to share a fingerprint — the standard plagiarism /
    near-copy detector.

    All built-in expressions, one shuffle (the per-doc window). The gram
    hash is the first 8 md5 hex chars as a long — identical in DuckDB, so
    the operator is exactly oracle-checkable (xxhash64 would be
    Spark-only). Tie-break rides inside the windowed MIN: key =
    h * 2^20 + (2^20-1-pos) makes "smallest hash, rightmost position"
    the numeric minimum (positions capped at 2^20-1; longer docs are
    truncated — fingerprinting a 1M+ char doc should chunk first).
    Returns (id, pos, fp_hash) distinct fingerprints.
    """
    txt = X.normalized(F.col(text_col))
    # md5 hash of each k-char gram, as a 32-bit int from the hex prefix
    gram = F.expr(f"substring(_txt, pos, {k})")
    h = F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
    grams = (
        df.select(F.col(id_col), txt.alias("_txt"))
        .filter(F.length("_txt") >= k)
        .select(
            id_col,
            F.posexplode(
                F.sequence(F.lit(1), F.length("_txt") - (k - 1))
            ).alias("_i", "pos"),
            "_txt",
        )
        .filter(F.col("pos") <= (1 << 20) - 1)
        .select(F.col(id_col), F.col("pos"), h.alias("h"))
    )
    key = F.col("h") * (1 << 20) + ((1 << 20) - 1 - F.col("pos"))
    w = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    sel = grams.select(
        id_col,
        F.min(key).over(w).alias("_key"),
        F.count(F.lit(1)).over(w).alias("_cnt"),
    ).filter(F.col("_cnt") == window)
    return sel.select(
        F.col(id_col),
        ((1 << 20) - 1 - (F.col("_key") % (1 << 20))).cast("long").alias("pos"),
        F.expr(f"_key div {1 << 20}").cast("long").alias("fp_hash"),
    ).dropDuplicates([id_col, "pos", "fp_hash"])


# ---------------------------------------------------------------------------
# MinHash + LSH (the 100 TB near-dup path)
# ---------------------------------------------------------------------------

def _hash_with_seed(col: Column, seed: int, portable: bool = False) -> Column:
    """Deterministic hash family member.

    Default: xxhash64(seed-tag, value) — the scale path (JVM-native).
    ``portable=True``: 32-bit value from md5, reproducible in any engine
    (DuckDB: ``CAST(concat('0x', substr(md5(seed || ':' || s), 1, 8)) AS
    BIGINT)``) — slower, used by the oracle-checked query tier."""
    if portable:
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 8), 16, 10
        ).cast("long")
    return F.xxhash64(F.lit(seed), col)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    portable: bool = False,
) -> DataFrame:
    """Per-doc MinHash signature: array of min(hash_seed_i(shingle)).

    One pass over the exploded shingles, all `num_hashes` minima computed
    in a single aggregation — no per-hash shuffle. ``portable`` switches
    the hash family to the md5-based engine-portable one (oracle tier)."""
    sh = _distinct_shingles(df, id_col, text_col, n)
    aggs = [
        F.min(_hash_with_seed(F.col("shingle"), i, portable)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature"),
    )


def lsh_band_rows(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Explode each signature into its ``bands`` band rows
    ``(id, band_id, band_hash)`` — the storage layout of an LSH index and
    the join key of every LSH candidate step. Pure per-row expressions,
    no shuffle. ``portable`` keys the band on the comma-joined value
    string (reproducible in SQL) instead of an xxhash64 digest (band
    equality is identical either way; xxhash64 stays the scale default —
    8 bytes/row vs a ~4*20-char string)."""

    def band_key(b: int) -> Column:
        vals = [
            F.col("signature")[b * rows_per_band + r]
            for r in range(rows_per_band)
        ]
        if portable:
            return F.concat_ws(",", *[v.cast("string") for v in vals])
        return F.xxhash64(*vals)

    return signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        band_key(b).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
    portable: bool = False,
) -> DataFrame:
    """Banded LSH: docs are candidates when any band of the signature
    matches exactly. P(candidate) = 1 - (1 - s^r)^b for Jaccard s.

    Join is on (band_id, band_hash) — equi-join, shuffle only on band
    keys; no quadratic blow-up as long as bands are selective."""
    banded = lsh_band_rows(signatures, id_col, bands, rows_per_band, portable)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            "inner",
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates verified with exact Jaccard.

    Candidates (cheap, probabilistic) -> exact verification (expensive,
    but only on the candidate set). This is the standard shape for
    trillion-token dedup. ``portable`` runs the md5-based hash family so
    the whole pipeline (signatures, banding, candidates, verification)
    is reproducible in the DuckDB oracle; xxhash64 stays the scale
    default."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes, portable)
    cand = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band, portable)
    # exact verification ONLY on candidate pairs (the whole point of LSH):
    # per-doc shingle sets are joined to the pairs and intersected —
    # cost is O(|candidates|), never the full inverted-index join
    sets = _tokenized(df, id_col, text_col).select(
        F.col(id_col),
        F.array_distinct(X.word_shingles(F.col("_w"), n)).alias("sh"),
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("sh_b"))
    shared = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = shared * F.lit(1.0) / (
        F.size("sh_a") + F.size("sh_b") - shared
    )
    # shuffle_hash: the candidate table must never be the broadcast
    # side (its size is corpus-dependent; see ngram_jaccard_pairs)
    return (
        cand.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def cluster_canonicals_by_score(
    assignments: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware canonical selection: given per-doc cluster
    assignments (e.g. connected components over near-dup pairs) and a
    per-doc score, the HIGHEST-scoring doc of each cluster (lowest id on
    ties) becomes the canonical — what production dedup actually keeps,
    rather than an arbitrary lowest-id member.

    One window per cluster (WindowGroupLimit-free since we need the
    winner broadcast to every member, so it's a first_value over the
    cluster partition — still a single shuffle on the cluster key).
    Returns ``(id, cluster, canonical_id, is_canonical)``."""
    joined = assignments.join(scores, id_col)
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return joined.select(
        F.col(id_col),
        F.col(cluster_col),
        F.first(id_col).over(w).alias("canonical_id"),
    ).withColumn("is_canonical", F.col(id_col) == F.col("canonical_id"))


# ---------------------------------------------------------------------------
# Incremental MinHash-LSH index (near-dup dedup of a NEW batch against a
# persisted corpus index — the production shape: the corpus is indexed
# once, each incoming batch probes and appends; raw corpus text is never
# re-read)
# ---------------------------------------------------------------------------

def lsh_index_build(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Build the two tables of a persistent LSH index from a corpus:

    - ``signatures`` ``(id, signature array<long>)`` — fixed
      ``num_hashes * 8`` bytes per doc, used for match verification;
    - ``band_index`` ``(id, band_id, band_hash)`` — the probe target,
      equi-keyed on ``(band_id, band_hash)``.

    In a real deployment both are written as parquet partitioned/bucketed
    by their join key; at 100 TB of text the index is ~3 orders of
    magnitude smaller than the corpus (32 longs + 8 band keys per doc),
    and probing never touches the original documents again."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes, portable)
    idx = lsh_band_rows(sigs, id_col, bands, rows_per_band, portable)
    return sigs, idx


def lsh_index_probe(
    corpus_sigs: DataFrame,
    corpus_index: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket: Optional[int] = None,
    portable: bool = False,
    batch_sigs: Optional[DataFrame] = None,
) -> DataFrame:
    """Probe a NEW batch of documents against an existing LSH index and
    decide keep/drop per batch doc — incremental near-dup dedup.
    ``batch_sigs`` lets a caller that already computed the batch's
    signatures (e.g. the streaming sink, which also needs them for the
    intra-batch pass) supply them instead of re-deriving from text.

    Pipeline: batch signatures (one scan of the batch only) -> batch band
    rows -> equi-join against the corpus band index on
    ``(band_id, band_hash)`` -> candidate ``(new, old)`` pairs ->
    verification via SIGNATURE AGREEMENT (fraction of equal MinHash
    components estimates Jaccard, Broder '97), so verification joins two
    32-long arrays instead of re-reading corpus text -> best match per
    batch doc (highest estimate, lowest old id on ties).

    Returns one row per batch doc: ``(id, match_id, est_jaccard,
    decision)`` with decision ``'drop'`` iff a match >= ``threshold``
    exists (``match_id`` null / ``'keep'`` otherwise, including docs too
    short to shingle).

    Scale notes: one shuffle for the batch signature agg, one equi-join
    shuffle against the index, one per-new-doc window (WindowGroupLimit).
    ``max_bucket`` drops corpus band buckets holding more than that many
    docs (boilerplate-heavy band keys — the band-level analog of
    stop-shingles): a hot bucket of B corpus docs multiplies every
    probing batch doc by B, so capping bounds the candidate fan-out at
    ``max_bucket`` per (batch doc, band); docs matching ONLY through
    dropped buckets are a documented recall loss, exactly like
    ``max_df`` in :func:`ngram_jaccard_pairs`."""
    rows_per_band = num_hashes // bands
    if batch_sigs is None:
        batch_sigs = minhash_signatures(
            batch, id_col, text_col, n, num_hashes, portable
        )
    batch_bands = lsh_band_rows(
        batch_sigs, id_col, bands, rows_per_band, portable
    )
    idx = corpus_index
    if max_bucket is not None:
        w_b = Window.partitionBy("band_id", "band_hash")
        idx = (
            idx.withColumn("_df", F.count(F.lit(1)).over(w_b))
            .filter(F.col("_df") <= max_bucket)
            .drop("_df")
        )
    cand = (
        batch_bands.select(
            F.col(id_col).alias("_new_id"), "band_id", "band_hash"
        )
        .join(
            idx.select(
                F.col(id_col).alias("_old_id"), "band_id", "band_hash"
            ),
            ["band_id", "band_hash"],
        )
        .select("_new_id", "_old_id")
        .dropDuplicates(["_new_id", "_old_id"])
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("_sig_new"),
            F.col("_sig_old"),
            lambda x, y: (x == y).cast("int"),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = (
        cand.join(
            batch_sigs.select(
                F.col(id_col).alias("_new_id"),
                F.col("signature").alias("_sig_new"),
            ),
            "_new_id",
        )
        .join(
            corpus_sigs.select(
                F.col(id_col).alias("_old_id"),
                F.col("signature").alias("_sig_old"),
            ),
            "_old_id",
        )
        .select(
            "_new_id",
            "_old_id",
            (agree * F.lit(1.0) / F.lit(num_hashes)).alias("_est"),
        )
        .filter(F.col("_est") >= threshold)
    )
    w = Window.partitionBy("_new_id").orderBy(
        F.col("_est").desc(), F.col("_old_id").asc()
    )
    best = (
        est.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        batch.select(id_col)
        .join(best, F.col(id_col) == F.col("_new_id"), "left")
        .select(
            id_col,
            F.col("_old_id").alias("match_id"),
            F.round("_est", 6).alias("est_jaccard"),
            F.when(F.col("_old_id").isNotNull(), F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("decision"),
        )
    )


def lsh_index_append(
    corpus_sigs: DataFrame,
    corpus_index: DataFrame,
    batch: DataFrame,
    decisions: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Fold the KEPT batch docs into the index: recompute their
    signatures/band rows and union onto both tables. Blind append — no
    rewrite of existing index data (parquet append / transaction-log
    add-files at scale), so ingesting batch k costs O(|batch k|)
    regardless of corpus size. Probing then appending the same batch is
    idempotent for dedup purposes: every doc of a re-delivered batch
    matches its indexed self at estimate 1.0."""
    kept = batch.join(
        decisions.filter(F.col("decision") == "keep").select(id_col),
        id_col,
        "semi",
    )
    sigs, idx = lsh_index_build(
        kept, id_col, text_col, n, num_hashes, bands, portable
    )
    return corpus_sigs.unionByName(sigs), corpus_index.unionByName(idx)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_chunk_bounds(nbits: int, chunks: int) -> list[int]:
    """Chunk boundary bit-offsets: ``chunks`` near-equal contiguous
    ranges covering bits [0, nbits). Shared with the SQL oracle so both
    engines band identically."""
    return [round(i * nbits / chunks) for i in range(chunks + 1)]

def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    portable: bool = False,
) -> DataFrame:
    """SimHash over token hashes, entirely with built-in expressions:
    per-token hash -> per-bit +/-1 votes -> sign bits.

    The bit loop unrolls to one conditional sum per bit inside one hash
    aggregate — wide but codegen-friendly, no Python in the path.
    Default: 64-bit signatures from xxhash64 (scale tier).
    ``portable=True``: 60-bit signatures from the md5-derived hash
    (15 hex chars < 2^60, fits signed 64-bit in every engine) so the
    signature — and everything downstream — is reproducible in SQL."""
    nbits = 60 if portable else 64
    toks = _tokenized(df, id_col, text_col).select(
        F.col(id_col), F.explode("_w").alias("tok")
    )
    if portable:
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit("s:"), F.col("tok"))), 1, 15),
            16, 10,
        ).cast("long")
    else:
        h = F.xxhash64("tok")
    toks = toks.withColumn("h", h)
    one = F.lit(1).cast("long")
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                # shiftleft (not a lit) — 1<<63 overflows a signed literal
                F.when(F.col("h").bitwiseAND(F.shiftleft(one, b)) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(nbits)
        ]
    )
    sig = None
    for b in range(nbits):
        bit = F.when(F.col(f"v{b}") > 0, F.shiftleft(one, b)).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    chunks: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Hamming-close pairs via chunk-banded join.

    Pigeonhole guarantee: a pair differing in at most ``max_hamming`` bits
    must agree on at least one chunk — which requires strictly MORE chunks
    than differing bits. ``chunks`` therefore defaults to
    ``max_hamming + 1`` (explicit values below that raise), and the
    signature bits (64, or 60 in ``portable`` mode) are split into
    ``chunks`` contiguous disjoint ranges of near-equal width, covering
    every bit."""
    if chunks is None:
        chunks = max_hamming + 1
    if chunks <= max_hamming:
        raise ValueError(
            f"chunks ({chunks}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole recall guarantee"
        )
    nbits = 60 if portable else 64
    sigs = simhash(df, id_col, text_col, portable=portable)
    bounds = simhash_chunk_bounds(nbits, chunks)
    banded = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned(F.col("simhash"), bounds[c])
                        .bitwiseAND(F.lit((1 << (bounds[c + 1] - bounds[c])) - 1))
                        .alias("chunk_val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_id", "c.chunk_val")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            "inner",
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# Passage-level dedup (C4-style repeated-span removal)
# ---------------------------------------------------------------------------
def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 10,
) -> DataFrame:
    """Remove passages repeated ACROSS the corpus, keeping each passage's
    first occurrence (lowest ``(id, position)``) — the C4/RealNews move
    of cutting boilerplate spans out of otherwise-unique documents,
    where document-level dedup (exact or near) keeps both copies.

    Passages are fixed ``chunk_size``-word windows of the normalized
    text. Chunking is a pure per-row array expression (sequence +
    slice inside ``transform`` — no explode-then-regroup shuffle); the
    only shuffles are the first-occurrence window on ``chunk_text`` and
    ONE per-doc aggregation that computes totals, kept-count, and the
    rebuilt text together (keep-flag instead of a filter, so no
    separate totals branch) — two exchanges and two scans regardless of
    corpus size (verified ``.explain``). Rebuilding the document
    preserves original chunk order via an in-group ``array_sort``.

    Returns one row per input doc: ``(id, clean_text, n_chunks_total,
    n_chunks_kept)`` — ``clean_text`` is ``''`` when every passage of
    the doc appeared earlier in the corpus (a pure-boilerplate doc).
    """
    toks = X.tokens(F.col(text_col))
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_size)).cast("int")
    chunks_arr = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_size + 1, chunk_size), " "
        ),
    )
    chunks = (
        df.select(F.col(id_col), F.posexplode(chunks_arr).alias(
            "chunk_idx", "chunk_text"
        ))
        .filter(F.col("chunk_text") != "")
    )
    first = Window.partitionBy("chunk_text").orderBy(id_col, "chunk_idx")
    # keep-flag instead of a filter: one per-doc aggregation then computes
    # totals, kept-count, and the rebuilt text together — no separate
    # totals branch, no third scan/shuffle
    flagged = chunks.withColumn(
        "_keep", F.row_number().over(first) == 1
    )
    rebuilt = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(
                            F.struct("chunk_idx", "chunk_text", "_keep")
                        )
                    ),
                    lambda s: s["_keep"],
                ),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_chunks_total"),
        F.count_if(F.col("_keep")).alias("n_chunks_kept"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_chunks_total", F.lit(0)).cast("long").alias(
                "n_chunks_total"
            ),
            F.coalesce("n_chunks_kept", F.lit(0)).cast("long").alias(
                "n_chunks_kept"
            ),
        )
    )


def dup_span_detect(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_tokens: int | None = None,
) -> DataFrame:
    """Cross-document duplicated-SPAN detection (the exact-substring
    dedup pass of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", re-expressed relationally): find every
    maximal run of tokens, at least ``min_tokens`` (default ``k``) long,
    that also appears verbatim in at least one OTHER document.

    A suffix array is the classic single-machine structure for this; the
    shuffle-friendly equivalent used here: every positioned k-gram is a
    suffix-array bucket key, so a token position is "covered" iff its
    k-gram occurs in >= 2 distinct docs, and a duplicated span is a
    maximal consecutive covered run (islands-and-gaps over positions).
    Any shared substring of length >= k is a run of shared k-grams, so
    detection is EXACT for spans >= k tokens (none missed, none
    spurious); the k-gram buckets merely replace pointer-chasing with
    two keyed shuffles.

    Shuffle profile: ONE exchange on the k-gram hash for the
    distinct-doc count (map-side combined); the surviving shared-gram
    set is small (duplicated grams only), so it broadcasts back onto
    the positions stream, and the islands window reuses the doc-id
    partitioning ``_tokenized`` already established — zero further
    exchanges. When the dup set outgrows the broadcast threshold, AQE
    falls back to a sort-merge join on the gram hash, still one extra
    exchange. No pair fan-out exists anywhere — unlike
    similarity joins, frequency caps aren't needed: a k-gram shared by
    a million docs still contributes one covered position per
    occurrence, not a million^2 pair blowup. At 100 TB the duplicated
    k-gram set is the small side, so a bloom semi-join (operators.bloom)
    can pre-prune the positions stream before the join.

    Returns one row per (doc, maximal duplicated span):
    ``(id_col, span_start, span_tokens, max_share)`` where ``max_share``
    is the largest number of distinct docs sharing any k-gram of the
    span (0-based token offset ``span_start``).
    """
    min_tokens = k if min_tokens is None else min_tokens
    grams = _tokenized(df, id_col, text_col).select(
        F.col(id_col),
        F.posexplode(X.word_shingles(F.col("_w"), k)).alias("pos", "gram"),
    ).select(id_col, "pos", F.md5("gram").alias("g"))
    shared = (
        grams.groupBy("g")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    covered = grams.join(shared, "g").select(id_col, "pos", "n_docs")
    run = (
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy(id_col).orderBy("pos")
        )
    ).alias("_run")
    return (
        covered.select(id_col, "pos", "n_docs", run)
        .groupBy(id_col, "_run")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
            F.max("n_docs").alias("max_share"),
        )
        .filter(F.col("span_tokens") >= min_tokens)
        .drop("_run")
    )


def dup_span_remove(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_tokens: int | None = None,
    keep: str = "first",
) -> DataFrame:
    """The REMOVAL pass that consumes :func:`dup_span_detect`: rebuild
    every document's (normalized) text with its duplicated spans cut
    out — the second half of the Lee et al. 2022 exact-substring dedup.

    ``keep`` policies:

    - ``"first"`` (default): span occurrences are grouped by their exact
      token content (md5 of the normalized slice) and the canonical
      occurrence — lowest ``(doc_id, span_start)`` — SURVIVES; every
      other occurrence is cut. No shared content is lost from the
      corpus, which is what you want for training data.
    - ``"none"``: every detected duplicated span is cut from every
      document (the behavior of Lee et al.'s released tool; simpler,
      loses the canonical copy).

    ``"first"`` never LOSES content (every content group's canonical
    survives by construction) but can over-retain: detection returns
    MAXIMAL covered runs, and runs merge across a junction only when the
    junction itself is duplicated — a shorter occurrence of the same
    piece inside a differently-merged extent then forms its own content
    group and survives too (tested explicitly). Boilerplate embedded in
    otherwise-unique text — the dominant real case — groups exactly.
    ``"none"`` has no such asymmetry.

    Output: one row per input doc — ``(id, clean_text, n_removed)``
    where ``clean_text`` is the NORMALIZED text rejoined (this operator
    lives after normalization in a pipeline, like every dedup op here)
    and ``n_removed`` counts cut tokens.

    Scale shape: detection's two shuffles, plus one join of the span
    table (small: duplicated spans only) back to the token stream to
    hash span content, one window over the span table (partitioned by
    content hash), one aggregation of cuts per doc, and a final
    broadcast-or-merge join onto the docs; the rebuild itself is an
    in-row higher-order filter — positions x cuts per row, no
    explode-join of token positions."""
    min_tokens = k if min_tokens is None else min_tokens
    spans = dup_span_detect(df, id_col, text_col, k, min_tokens)
    toks = _tokenized(df, id_col, text_col)
    occ = spans.join(toks, id_col).select(
        id_col,
        "span_start",
        "span_tokens",
        F.md5(
            F.concat_ws(
                " ", F.slice("_w", F.col("span_start") + 1, F.col("span_tokens"))
            )
        ).alias("_h"),
    )
    if keep == "first":
        w = Window.partitionBy("_h").orderBy(id_col, "span_start")
        cut = (
            occ.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
        )
    elif keep == "none":
        cut = occ
    else:
        raise ValueError(f"unknown keep policy: {keep!r}")
    cuts = cut.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_tokens")).alias("_cs")
    )
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_cs"),
        lambda c: (i >= c["span_start"]) & (i < c["span_start"] + c["span_tokens"]),
    )
    kept = F.filter("_w", lambda t, i: ~covered(i))
    return (
        toks.join(cuts, id_col, "left")
        .select(
            id_col,
            F.when(F.col("_cs").isNull(), F.concat_ws(" ", "_w"))
            .otherwise(F.concat_ws(" ", kept))
            .alias("clean_text"),
            F.when(F.col("_cs").isNull(), F.lit(0))
            .otherwise(F.size("_w") - F.size(kept))
            .cast("int")
            .alias("n_removed"),
        )
    )


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document novelty: the share of its distinct n-gram shingles
    FIRST introduced by this document (owner = lowest doc id seen for
    the shingle) — the curation signal that separates fresh content
    from remixes of the existing corpus (documents below a novelty
    floor are boilerplate/near-copy candidates even when no single
    pairwise match fires).

    Scale shape: the same inverted shingle index the Jaccard family
    builds, but consumed as ONE argmin per shingle + one join back —
    no pairwise expansion at all, so zipfian shingles cost their df,
    never df^2. Two shuffles total (shingle key, then doc key).
    Documents with fewer than ``n`` tokens have no shingles and drop
    out (mirrored by the oracle)."""
    sh = _distinct_shingles(df, id_col, text_col, n)
    own = sh.groupBy("shingle").agg(F.min(id_col).alias("_owner"))
    return (
        sh.join(own, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(F.col("_owner") == F.col(id_col), 1).otherwise(0)
            ).alias("_nov"),
        )
        .select(
            id_col,
            F.col("_n").cast("int").alias("n_shingles"),
            F.floor(F.col("_nov") * 1000000.0 / F.col("_n"))
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: n-gram containment
    ``C(A|B) = |sh(A) & sh(B)| / |sh(A)|`` — the quote-inclusion /
    subset-document case Jaccard systematically misses (a short doc
    fully embedded in a long one has tiny Jaccard but containment ~1;
    this is the signal used to catch benchmark contamination inside
    larger pages). Emits each unordered candidate pair once with BOTH
    directions' containment; a pair survives when either direction
    clears ``threshold``.

    Same inverted-index shape (and stop-shingle ``max_df`` cap) as
    :func:`ngram_jaccard_pairs`: one shuffle on shingle, pair fan-out
    inside the task via higher-order expressions, one shuffle on the
    pair — the per-shingle df cap is what bounds the fan-out at corpus
    scale."""
    sh = _distinct_shingles(df, id_col, text_col, n)
    npart = df.sparkSession.sparkContext.defaultParallelism
    sh = sh.repartition(npart, "shingle")
    groups = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    )
    if max_df is not None:
        groups = groups.filter(F.size("ids") <= max_df)
    sizes = (
        groups.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        groups.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.doc_a").alias("doc_a"),
                 F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    ca = F.col("shared") * F.lit(1.0) / F.col("na")
    cb = F.col("shared") * F.lit(1.0) / F.col("nb")
    # shuffle_hash: the pair table must never be the broadcast side
    # (its size is corpus-dependent; see ngram_jaccard_pairs)
    return (
        pairs.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .filter(F.greatest(ca, cb) >= threshold)
        .select(
            "doc_a", "doc_b", "shared",
            F.round(ca, 6).alias("containment_a"),
            F.round(cb, 6).alias("containment_b"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup: variable-size chunks whose
# boundaries depend only on LOCAL content (a word's portable hash
# hitting a residue class), the rolling-hash recipe (Rabin/LBFS,
# restic/borg, FastCDC) restated at word granularity. The property
# fixed-size chunking (sampling.context_chunks) lacks: inserting one
# word near the start of a document shifts every fixed chunk after it,
# but CDC boundaries downstream of the edit are unchanged — so shared
# passages keep identical fingerprints across near-duplicate documents
# and chunk-level dedup actually fires.
# ---------------------------------------------------------------------------

def cdc_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 8,
) -> DataFrame:
    """Per-document CDC dedup report: ``(id, n_chunks, n_dup_chunks,
    dup_ppm)`` where a chunk is duplicated if its fingerprint occurs at
    more than one (doc, position) in the corpus.

    A word CLOSES its chunk when ``md5_32(word) % divisor == 0`` (the
    md5-derived portable hash family, engine-reproducible), giving
    expected chunk length ``divisor`` words. Chunk assembly is one
    in-row fold (struct accumulator: completed chunks + the open one)
    — documents never explode to words, only to chunks. One shuffle on
    the chunk fingerprint counts corpus-wide copies; one more groups
    back per doc. dup_ppm uses integer ``div`` (engine-exact)."""
    words = F.filter(
        F.split(F.col(text_col), " "), lambda w: w != ""
    )

    def step(acc, w):
        joined = F.when(
            acc["cur"] == "", w
        ).otherwise(F.concat(acc["cur"], F.lit(" "), w))
        boundary = F.pmod(
            F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"),
            F.lit(divisor),
        ) == 0
        return F.struct(
            F.when(
                boundary, F.concat(acc["done"], F.array(joined))
            ).otherwise(acc["done"]).alias("done"),
            F.when(boundary, F.lit("")).otherwise(joined).alias("cur"),
        )

    init = F.struct(
        F.array().cast("array<string>").alias("done"),
        F.lit("").alias("cur"),
    )
    chunks = F.aggregate(
        words,
        init,
        step,
        lambda acc: F.when(
            acc["cur"] == "", acc["done"]
        ).otherwise(F.concat(acc["done"], F.array(acc["cur"]))),
    )
    exploded = df.select(
        F.col(id_col), F.explode(chunks).alias("chunk_text")
    ).select(id_col, F.md5("chunk_text").alias("_fp"))
    from pyspark.sql import Window

    copies = F.count(F.lit(1)).over(Window.partitionBy("_fp"))
    per_doc = (
        exploded.withColumn("_copies", copies)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("_copies") > 1, 1).otherwise(0))
            .cast("long").alias("n_dup_chunks"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chunks", F.lit(0)).cast("long")
            .alias("n_chunks"),
            F.coalesce("n_dup_chunks", F.lit(0)).cast("long")
            .alias("n_dup_chunks"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_chunks, 0) = 0 THEN 0 "
                "ELSE coalesce(n_dup_chunks, 0) * 1000000 div n_chunks "
                "END AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )

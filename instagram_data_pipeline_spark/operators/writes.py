"""Write-pattern library: the reference's ON CONFLICT idioms on Parquet
(SURVEY §2.8, A1-A8).

PostgreSQL gave the reference row-level upserts; a Parquet warehouse gets
the same *semantics* from set operations:

* A1 upsert-keep-newest  -> union + row_number window + overwrite
* A2 insert-if-absent    -> dedup + left-anti + append
* A3 SERIAL/RETURNING    -> caller-assigned surrogate ids (unique, NOT
  dense — oracle queries must never compare generated ids, SURVEY §7.2)
* A4-A6 ledger update    -> broadcast left join against an update frame
* A8 targeted delete     -> left-anti overwrite

All are idempotent (run twice == run once) — that is the guarantee
ON CONFLICT gave the reference, and tests assert it.

Scale: the window in A1 partitions by the key — no global shuffle beyond
the one hash exchange; A2's anti-join broadcasts whichever side is small.
On a real deployment these become Delta/Iceberg MERGE; the function
signatures would not change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def upsert_keep_newest(
    existing: DataFrame,
    incoming: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """A1: INSERT ... ON CONFLICT DO UPDATE keeping the newest row per key
    (users upsert, instagram_scraper.py:194-217; interests,
    interest_analyzer.py:275-280).

    ``incoming`` wins ties on ``order_col`` (the reference's UPDATE always
    overwrote): a priority column breaks exact-timestamp ties in favor of
    the incoming batch, then ``tiebreak`` columns make the result
    deterministic.
    """
    tagged_existing = existing.withColumn("_src", F.lit(0))
    tagged_incoming = incoming.withColumn("_src", F.lit(1))
    merged = tagged_existing.unionByName(tagged_incoming)
    order = [F.col(order_col).desc_nulls_last(), F.col("_src").desc()]
    for c in tiebreak or []:
        order.append(F.col(c).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def insert_if_absent(
    existing: DataFrame, incoming: DataFrame, keys: list[str]
) -> DataFrame:
    """A2: rows of ``incoming`` whose key is not already in ``existing``
    (INSERT ... ON CONFLICT DO NOTHING — edges + stub users,
    instagram_scraper.py:260-278, 353-371, 428-435).

    Returns only the *new* rows; caller appends them. Within-batch dupes
    are collapsed first so the uniqueness contract holds even for dirty
    ingest batches.
    """
    return incoming.dropDuplicates(keys).join(
        existing.select(*keys), keys, "left_anti"
    )


def assign_ids(df: DataFrame, id_col: str = "id", start: int = 0) -> DataFrame:
    """A3: SERIAL/RETURNING replacement.

    ``monotonically_increasing_id`` is unique and partition-ordered but
    not dense — documented contract (SURVEY §7.2). ``start`` offsets above
    an existing max for append workflows.
    """
    return df.withColumn(
        id_col, (F.monotonically_increasing_id() + F.lit(start)).cast("long")
    )


DENSE_ID_MAX_ROWS = 1_000_000


def assign_dense_ids(df: DataFrame, id_col: str, order_by: list[str],
                     start: int = 1,
                     max_rows: int = DENSE_ID_MAX_ROWS) -> DataFrame:
    """Dense variant for small control tables (ledger) where tests expect
    consecutive ids: a global no-partition row_number, i.e. a
    SINGLE-PARTITION shuffle.

    Guarded against misuse on fact tables: refuses inputs above
    ``max_rows`` (the count probe is one cheap agg-only job). For big
    tables use :func:`assign_ids` — unique but not dense — which is the
    documented SERIAL contract (SURVEY §7.2)."""
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"assign_dense_ids is a single-partition global sort, refused "
            f"for {n} rows (> {max_rows}); use assign_ids (unique, "
            "non-dense) for fact tables"
        )
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(id_col, (F.row_number().over(w) + start - 1).cast("long"))


def delete_matching(
    existing: DataFrame, targets: DataFrame, keys: list[str]
) -> DataFrame:
    """A8: DELETE ... USING — drop rows whose key appears in ``targets``
    (tests/test_scraper.py:293-297)."""
    return existing.join(targets.select(*keys), keys, "left_anti")


def update_jobs(jobs: DataFrame, updates: DataFrame,
                key: str = "job_id") -> DataFrame:
    """A4/A5/A6: UPDATE scrape_jobs SET ... FROM updates WHERE the key
    matches (instagram_scraper.py:284-314, 388-407) — the one
    ledger-update operator.

    ``updates`` holds ``key`` plus any ledger columns; on a matching row
    each non-null update value replaces the stored one (NULL means
    "leave as is"), cast to the ledger's type. One broadcast left join
    against the (small: a dequeued batch, one sink's row) update set;
    duplicate keys collapse first so the ledger keeps its row count.
    """
    cols = [c for c in updates.columns if c != key]
    upd = F.broadcast(
        updates.dropDuplicates([key]).select(
            key, *[F.col(c).alias(f"_u_{c}") for c in cols]
        )
    )
    types = {f.name: f.dataType for f in jobs.schema.fields}
    return jobs.join(upd, key, "left").select(*[
        F.coalesce(F.col(f"_u_{c}").cast(types[c]), F.col(c)).alias(c)
        if c in cols else F.col(c)
        for c in jobs.columns
    ])


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change-data-capture between two table snapshots: one row per key
    present in either side, classified ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` — the diff that feeds an SCD2 merge or
    an incremental downstream refresh when the upstream only ships full
    snapshots (the reference re-scraped full follower lists every run;
    this is that reconciliation as a set operation).

    One full outer join on the key — the minimal shuffle; comparison
    uses null-safe equality (``<=>``) per column so NULL-to-value
    transitions classify as changed, not unchanged."""
    cmp_cols = compare_cols or [
        c for c in old.columns if c not in keys and c in new.columns
    ]
    o = old.select(
        *[F.col(k).alias(k) for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in cmp_cols],
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(k) for k in keys],
        *[F.col(c).alias(f"_n_{c}") for c in cmp_cols],
        F.lit(True).alias("_in_new"),
    )
    j = o.join(n, keys, "full_outer")
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return j.select(*keys, status.alias("change"))


def scd2_apply(
    history: DataFrame,
    snapshot: DataFrame,
    keys: list[str],
    compare_cols: list[str],
    batch_ts,
) -> DataFrame:
    """Slowly-changing-dimension type 2: fold a full snapshot into a
    versioned history table (keys..., compare_cols..., valid_from,
    valid_to, is_current).

    Current rows whose attributes changed — or whose key vanished —
    close (valid_to = batch_ts, is_current = false); new keys and new
    versions of changed keys open (valid_from = batch_ts, valid_to =
    NULL). Unchanged rows and already-closed history pass through
    untouched, so the operation is append-plus-flag-flip on exactly the
    keys the diff touched — the plain-parquet analog of MERGE-based
    SCD2, and bucket-scoped when history is bucketed by key (see
    ``Warehouse.upsert_partitioned``).

    ``batch_ts`` must be a deterministic literal (the batch's logical
    time), never wall clock — replays must produce identical history.
    """
    cur = history.filter(F.col("is_current"))
    closed_hist = history.filter(~F.col("is_current"))
    d = snapshot_diff(
        cur.select(*keys, *compare_cols),
        snapshot.select(*keys, *compare_cols),
        keys,
        compare_cols,
    )
    ts = F.lit(batch_ts).cast("timestamp")
    keep = cur.join(
        d.filter(F.col("change") == "unchanged").select(*keys),
        keys,
        "left_semi",
    )
    to_close = cur.join(
        d.filter(F.col("change").isin("changed", "removed")).select(*keys),
        keys,
        "left_semi",
    ).withColumn("valid_to", ts).withColumn("is_current", F.lit(False))
    to_open = snapshot.join(
        d.filter(F.col("change").isin("added", "changed")).select(*keys),
        keys,
        "left_semi",
    ).select(
        *keys,
        *compare_cols,
        ts.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    cols = [*keys, *compare_cols, "valid_from", "valid_to", "is_current"]
    return (
        closed_hist.select(*cols)
        .unionByName(keep.select(*cols))
        .unionByName(to_close.select(*cols))
        .unionByName(to_open.select(*cols))
    )


def scd2_as_of(
    history: DataFrame,
    at: str,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Point-in-time view over an SCD2 history: the rows valid AT the
    given timestamp (``valid_from <= at < valid_to``, open intervals
    current) — the consumer-side pair of :func:`scd2_apply`; a pure
    pushed filter over the history table, no window, no join."""
    at_c = F.lit(at).cast("timestamp")
    return history.filter(
        (F.col(from_col) <= at_c)
        & (F.col(to_col).isNull() | (F.col(to_col) > at_c))
    )


def incremental_agg_refresh(
    mv_old: DataFrame,
    delta_agg: DataFrame,
    keys: list[str],
    add_cols: list[str],
) -> DataFrame:
    """Incremental materialized-view maintenance for distributive
    aggregates (SUM/COUNT): merge yesterday's aggregate table with the
    DELTA's partial aggregates — full-outer join on the group keys,
    coalesce-add every measure — so a refresh costs one aggregation of
    the delta plus one join against the MV, instead of re-scanning the
    full history (THE difference between O(delta) and O(100 TB) per
    refresh). Registered proof: ``mv_incremental_refresh`` checks the
    merged result hash-equals a from-scratch recompute.

    Both inputs must carry identical schemas: ``keys`` plus the
    additive measure columns ``add_cols`` (counts as longs, sums as
    DECIMAL partials so the merge stays exact — round/cast only when
    serving). Keys present only in the MV pass through; keys only in
    the delta insert. Deletes/updates arrive as negative partials
    (retractions), which the same coalesce-add absorbs."""
    o = mv_old.select(
        *keys, *[F.col(c).alias(f"_o_{c}") for c in add_cols]
    )
    d = delta_agg.select(
        *keys, *[F.col(c).alias(f"_d_{c}") for c in add_cols]
    )
    merged = o.join(d, keys, "full")
    zero = F.lit(0)
    return merged.select(
        *keys,
        *[
            (
                F.coalesce(F.col(f"_o_{c}"), zero)
                + F.coalesce(F.col(f"_d_{c}"), zero)
            ).alias(c)
            for c in add_cols
        ],
    )

"""Continuous rollup: incrementally-maintained multi-granularity time
aggregates (the hypertable / continuous-aggregate pattern, task north
star).

A raw event stream maintains bucketed aggregate TABLES (hourly, daily)
that answer dashboard queries without scanning raw data. In Structured
Streaming the maintenance is a ``foreachBatch`` sink: each micro-batch
is bucketed and MERGED into the rollup tables by (bucket, dims) key —
counts and sums add (the aggregate is a monoid, same property that makes
the CMS sketch mergeable), so replays must be fenced (epoch skip) rather
than re-added. Bucket arithmetic is pure column math (``date_trunc``),
so the same ``rollup_increment`` powers batch backfills and the
streaming path identically.

Scale: each rollup table is a transaction-log table keyed on
(bucket, event_type). A merge reads and rewrites only the key-hash
buckets the micro-batch touches, with ``merge_rollup`` as the per-bucket
rule — an anti-join-free upsert because counters ADD instead of
replace — and publishes them in one crash-atomic commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import Warehouse

GRAINS = {"hour": "hour", "day": "day"}


def rollup_increment(
    batch: DataFrame, grain: str, ts_col: str = "ts"
) -> DataFrame:
    """Aggregate one slice of events to (bucket, event_type) partial
    sums — the monoid element merged into the rollup table."""
    bucket = F.date_trunc(GRAINS[grain], F.col(ts_col))
    return (
        batch.groupBy(
            bucket.alias("bucket"), F.col("event_type")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,10)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def merge_rollup(existing: DataFrame, increment: DataFrame) -> DataFrame:
    """Counter-wise merge by (bucket, event_type): counts/sums add."""
    return (
        existing.unionByName(increment)
        .groupBy("bucket", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum(F.col("total_value").cast("decimal(28,10)"))
            .cast("double")
            .alias("total_value"),
        )
    )


class ContinuousRollupSink:
    """foreachBatch sink maintaining one rollup table per grain.

    Epoch replays are skipped, and the epoch is fenced only AFTER every
    grain's merge committed — with additive merges, fencing first would
    silently LOSE a batch whose write failed (the retry would be
    skipped). Each grain commits atomically on the transaction log, so
    a failed merge leaves its table unchanged. The fence set is
    in-memory: the guarantee is within-process, same-instance dedup
    only, and a replay after a partial success (one grain committed,
    the next failed) double-counts the committed grain."""

    KEYS = ["bucket", "event_type"]
    NUM_BUCKETS = 8

    def __init__(self, warehouse: Warehouse, grains: tuple[str, ...] = ("hour", "day"),
                 prefix: str = "rollup"):
        self.wh = warehouse
        self.grains = grains
        self.prefix = prefix
        self.epochs: set[int] = set()

    def table(self, grain: str) -> str:
        return f"{self.prefix}_{grain}"

    def read(self, grain: str) -> DataFrame:
        """Latest committed rollup contents."""
        return self.wh.read_merged(self.table(grain))

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in self.epochs:
            return
        if not batch_df.isEmpty():
            for grain in self.grains:
                self._merge_grain(batch_df, grain)
        # fence only after all grains committed (see class docstring)
        self.epochs.add(epoch_id)

    def _merge_grain(self, batch_df: DataFrame, grain: str) -> None:
        self.wh.fmt.merge_with(
            self.wh, self.table(grain), rollup_increment(batch_df, grain),
            self.KEYS, self.NUM_BUCKETS, None, merge_rollup,
        )

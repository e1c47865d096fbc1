"""foreachBatch ledger writes: exactly-once micro-batch commits to the
job ledger (SURVEY §2.9 T6/A4-A5).

The reference committed every 10 ingested rows and point-updated
``processed_items`` (instagram_scraper.py:282-302); in Structured
Streaming the micro-batch IS the commit unit — ``foreachBatch`` gets
(batch_df, epoch_id) and the checkpoint replays exactly-once on failure.
Every ledger change goes through ``operators.writes.update_jobs`` with a
one-row update frame, the same operator the scheduler tick uses.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import Warehouse
from ..operators.writes import update_jobs


class LedgerProgressSink:
    """Per-micro-batch progress checkpoint: appends rows to the target
    table and advances processed_items on the ledger row (A4), marking
    completion on the final empty batch (A5 is the caller's call)."""

    def __init__(self, warehouse: Warehouse, table: str, job_id: int,
                 now: dt.datetime | None = None):
        self.wh = warehouse
        self.table = table
        self.job_id = job_id
        self.now = now or dt.datetime(2024, 1, 1)
        self.rows_seen: int | None = None  # seeded from the ledger row
        self.epochs: list[int] = []

    def _seed_progress(self) -> None:
        """Resume-correct progress: a RESTARTED query constructs a
        fresh sink, but the checkpoint continues the stream mid-job —
        progress must continue from the ledger row's processed_items,
        not from zero (a zero-seeded restart would REGRESS the ledger
        on its first batch). Lazy: read once, on first use."""
        if self.rows_seen is None:
            row = (
                self.wh.read("scrape_jobs")
                .filter(F.col("job_id") == self.job_id)
                .select("processed_items")
                .collect()
            )
            self.rows_seen = int(row[0].processed_items or 0) if row else 0

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once: a failed-then-replayed epoch
        # arrives with the SAME epoch_id. Idempotence requires skipping
        # epochs we already committed, else rows double-append and
        # processed_items double-advances. The fence is recorded only
        # AFTER the writes succeed — fencing first would make the retry
        # of a failed write a silent no-op (batch lost). Scope: within-
        # process dedup; the append + ledger update pair is not atomic,
        # so a crash between them can replay the append (the
        # transactional fix is a table format whose commit carries the
        # epoch id).
        if epoch_id in self.epochs:
            return
        self._seed_progress()
        n = batch_df.count()
        if n == 0:
            self.epochs.append(epoch_id)
            return
        existing = self.wh.read(self.table)
        self.wh.overwrite_atomic(
            self.table, existing.unionByName(batch_df.select(*existing.columns))
        )
        self._update_ledger(
            "status string, processed_items int",
            ("in_progress", self.rows_seen + n),
        )
        self.rows_seen += n
        self.epochs.append(epoch_id)

    def complete(self) -> None:
        self._seed_progress()
        self._update_ledger(
            "status string, total_items int, processed_items int, "
            "completed_at timestamp",
            ("completed", self.rows_seen, self.rows_seen, self.now),
        )

    def _update_ledger(self, schema: str, values: tuple) -> None:
        """A4/A5 on this sink's ledger row: one-row ``update_jobs``."""
        updates = self.wh.spark.createDataFrame(
            [(self.job_id, *values)], "job_id long, " + schema
        )
        self.wh.overwrite_atomic(
            "scrape_jobs", update_jobs(self.wh.read("scrape_jobs"), updates)
        )

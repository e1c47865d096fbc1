"""Entry point 2 — the queue-driven scheduler (SURVEY §3.2,
job_scheduler.py:29-164): DB-backed job queue with a daily quota, FIFO
batch dequeue, per-type dispatch, and the mutuals completeness trigger.

Deliberate fix vs the reference (SURVEY §3.2 quirk): dequeued jobs are
marked in_progress/completed/failed on the SAME ledger row —
exactly-once dequeue semantics instead of the reference's orphaned
pending rows.

The ledger is a tiny control table. A tick reads its <= batch_size
dequeued rows and its quota (the status of <= daily_quota jobs started
today) in one collect, runs the handlers, and applies every status
change with ONE ``update_jobs`` call (a keyed join against a literal
frame of the results) and one overwrite; a tick that dequeues nothing
writes nothing. State that must be transactional at
scale moves to a table format or the streaming checkpoint (SURVEY §2.9
T6) without changing this interface.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import Warehouse
from ..operators.relational import both_complete_users, dequeue_pending
from ..operators.writes import update_jobs

JOB_TYPES = ("profile", "followers", "following")
EDGE_TYPES = ("followers", "following")


def enqueue_due(
    jobs: DataFrame,
    candidates: DataFrame,
    cutoff: dt.datetime,
    job_types: tuple[str, ...] = JOB_TYPES,
) -> DataFrame:
    """A7 core (job_scheduler.py:49-77), pure: job rows (sans ids) for
    every candidate username with NO scrape job started after ``cutoff``.

    ``candidates`` is a one-column (target_username) frame. The recent-set
    anti-join guards the 7-day dedup window; the job-type fan-out is a
    cross join against a literal 3-row frame (harmless at any scale)."""
    spark = candidates.sparkSession
    recent = (
        jobs.filter(
            F.col("job_type").isin(*job_types)
            & (F.col("started_at") > F.lit(cutoff).cast("timestamp"))
        )
        .select("target_username")
        .dropDuplicates()
    )
    fresh = candidates.select("target_username").dropDuplicates().join(
        recent, "target_username", "left_anti"
    )
    return fresh.crossJoin(
        spark.createDataFrame([(t,) for t in job_types], "job_type string")
    ).select(
        "target_username",
        "job_type",
        F.lit("pending").alias("status"),
        F.lit(None).cast("timestamp").alias("started_at"),
        F.lit(None).cast("timestamp").alias("completed_at"),
        F.lit(None).cast("string").alias("last_cursor"),
        F.lit(None).cast("int").alias("total_items"),
        F.lit(0).alias("processed_items"),
        F.lit(None).cast("string").alias("error_message"),
    )


class JobScheduler:
    """Quota-gated FIFO scheduler over the scrape_jobs ledger."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        daily_quota: int = 200,   # job_scheduler.py:29
        batch_size: int = 10,     # job_scheduler.py:93
        now: dt.datetime | None = None,
    ):
        self.spark = spark
        self.wh = warehouse
        self.daily_quota = daily_quota
        self.batch_size = batch_size
        self.now = now or dt.datetime(2024, 1, 1, 0, 0, 0)

    def _jobs(self) -> DataFrame:
        return self.wh.read("scrape_jobs")

    # -- A7: conditional enqueue (job_scheduler.py:49-77) -----------------
    def enqueue_users(self, usernames: list[str]) -> int:
        """Enqueue the 3 scrape job types per user unless a job of any
        scrape type started within the last 7 days (P5 guard). Returns
        the number of jobs enqueued."""
        jobs = self._jobs()
        candidates = self.spark.createDataFrame(
            [(u,) for u in usernames], "target_username string"
        )
        max_id = jobs.agg(F.coalesce(F.max("job_id"), F.lit(0)).alias("_max_id"))
        # <= 3 rows per username, evaluated once; the ledger max rides along
        rows = (
            enqueue_due(jobs, candidates, self.now - dt.timedelta(days=7))
            .crossJoin(F.broadcast(max_id))
            .collect()
        )
        if not rows:
            return 0
        # dense ids above the ledger max, in (target_username, job_type)
        # order (Python's str order is Spark's binary UTF-8 order)
        rows.sort(key=lambda r: (r.target_username, r.job_type))
        start = rows[0]._max_id + 1
        new_jobs = self.spark.createDataFrame(
            [{**r.asDict(), "job_id": start + i} for i, r in enumerate(rows)],
            jobs.schema,
        )
        self.wh.overwrite_atomic("scrape_jobs", jobs.unionByName(new_jobs))
        return len(rows)

    # -- the tick (job_scheduler.py:79-154) -------------------------------
    def process_pending_jobs(
        self,
        handlers: dict[str, Callable[[str], None]],
        on_both_complete: Callable[[str], None] | None = None,
    ) -> dict[str, int]:
        """One scheduler tick: quota gate -> O1 FIFO dequeue -> dispatch
        -> one ledger update -> T7 completeness trigger."""
        stats = {"dispatched": 0, "completed": 0, "failed": 0}
        jobs = self._jobs()
        # T3 quota + O1 FIFO dequeue in one collect: the <= batch_size
        # oldest pending rows beside the status of <= daily_quota jobs
        # started today (job_scheduler.py:29-47, 84-86)
        started = jobs.filter(
            (F.to_date("started_at") == F.lit(self.now.date()))
            & F.col("status").isin("completed", "failed", "in_progress")
        ).select("status").limit(self.daily_quota)
        head = dequeue_pending(jobs, self.batch_size).unionByName(
            started, allowMissingColumns=True
        ).collect()
        queue = sorted(
            (r for r in head if r.status == "pending"), key=lambda r: r.job_id
        )
        rows = queue[: max(0, self.daily_quota - (len(head) - len(queue)))]
        if not rows:
            return stats
        updates = []
        for row in rows:
            try:
                handlers[row.job_type](row.target_username)
            except Exception as exc:  # noqa: BLE001 — A6 failure path
                updates.append((row.job_id, "failed", self.now, None, str(exc)))
                stats["failed"] += 1
            else:
                updates.append((row.job_id, "completed", self.now, self.now, None))
                stats["completed"] += 1
        stats["dispatched"] = len(rows)
        # re-read: a handler may have written the ledger since
        self.wh.overwrite_atomic("scrape_jobs", update_jobs(
            self._jobs(),
            self.spark.createDataFrame(
                updates,
                "job_id long, status string, started_at timestamp, "
                "completed_at timestamp, error_message string",
            ),
        ))
        # T7: after edge scrapes, fire mutuals when both types completed —
        # once per dispatched edge row, like the reference's per-job check
        edge_users = {r.target_username for r in rows if r.job_type in EDGE_TYPES}
        if on_both_complete and edge_users:
            # <= batch_size usernames
            done = {
                r.target_username
                for r in both_complete_users(
                    self._jobs().filter(F.col("target_username").isin(*edge_users))
                ).collect()
            }
            for row in rows:
                if row.job_type in EDGE_TYPES and row.target_username in done:
                    on_both_complete(row.target_username)
        return stats

"""Oracle-checked write/ledger family (SURVEY §2.8-§2.9: A3-A8, T3, T7).

The reference's signature surface is its PostgreSQL write patterns
(instagram_scraper.py:194-314, job_scheduler.py:49-148). The driver
testdata has no jobs table, so each query derives a scrape_jobs-shaped
ledger from ``orders`` with deterministic column mappings — identically
in Spark and in the DuckDB oracle — then applies the REAL operator
functions (``enqueue_due``, ``dequeue_pending``, ``update_jobs`` — the
one ledger-update operator, ``delete_matching``, ``assign_dense_ids``,
``both_complete_users``, ``daily_quota_admission``) and returns the
state-out table. This closes the VERDICT r1 gap: the write family was
pytest-only; now every A/T operator has a green CORRECTNESS entry.

Fixture mapping (orders -> scrape_jobs):
  job_id          o_orderkey
  target_username CAST(o_custkey AS string)
  job_type        O->'followers', F->'following', P->'profile'
  status          1-URGENT/2-HIGH -> 'pending', 3-MEDIUM -> 'in_progress',
                  4-NOT SPECIFIED -> 'failed', 5-LOW -> 'completed'
  started_at      o_orderdate (NULL when pending, like a real ledger)
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_testdata
from ..operators.relational import (
    both_complete_users,
    daily_quota_admission,
    dequeue_pending,
)
from ..operators.writes import (
    assign_dense_ids,
    delete_matching,
    update_jobs,
)
from ..plans.scheduler import enqueue_due
from . import register

# Fixed 'now' for the 7-day window: orders span 1995-01-01..2001-08-01.
_NOW = dt.datetime(2001, 8, 1)
_CUTOFF = _NOW - dt.timedelta(days=7)


def _scratch(name: str, sf_dir: str = "") -> str:
    """Fixed per-(query, SF) scratch root, WIPED AT START of each run
    (the bucketed_join convention, ADVICE r6 #5): repeated driver/
    bench invocations reuse one directory instead of accumulating a
    tmpdir per run, and the returned DataFrame stays readable after
    the query function exits (nothing is deleted at the end). The SF
    digest keeps CONCURRENT runs against different scale factors from
    wiping each other's tables mid-read (observed when the sf0.01
    gate and the sf0.1 sweep overlapped); concurrent same-SF runs
    compute identical state and still share."""
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6] if sf_dir else ""
    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_{name}{'_' + tag if tag else ''}"
    )
    shutil.rmtree(root, ignore_errors=True)
    return root

_JOBS_CTE = """
jobs AS (
  SELECT o_orderkey AS job_id,
         CAST(o_custkey AS VARCHAR) AS target_username,
         CASE o_orderstatus WHEN 'O' THEN 'followers'
                            WHEN 'F' THEN 'following'
                            ELSE 'profile' END AS job_type,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'pending'
              WHEN o_orderpriority = '3-MEDIUM' THEN 'in_progress'
              WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 'failed'
              ELSE 'completed' END AS status,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN NULL
              ELSE o_orderdate END AS started_at
  FROM orders
)
"""


def _jobs_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    status = (
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "pending"
        )
        .when(F.col("o_orderpriority") == "3-MEDIUM", "in_progress")
        .when(F.col("o_orderpriority") == "4-NOT SPECIFIED", "failed")
        .otherwise("completed")
    )
    job_type = (
        F.when(F.col("o_orderstatus") == "O", "followers")
        .when(F.col("o_orderstatus") == "F", "following")
        .otherwise("profile")
    )
    started = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
        F.lit(None).cast("timestamp"),
    ).otherwise(F.col("o_orderdate"))
    return orders.select(
        F.col("o_orderkey").alias("job_id"),
        F.col("o_custkey").cast("string").alias("target_username"),
        job_type.alias("job_type"),
        status.alias("status"),
        started.alias("started_at"),
    )


def _ledger_shaped(jobs: DataFrame) -> DataFrame:
    """Widen the fixture to the full scrape_jobs column set so the real
    write operators (which touch completed_at/error_message/...) run
    against the schema they were built for."""
    return jobs.select(
        "job_id",
        "target_username",
        "job_type",
        "status",
        "started_at",
        F.lit(None).cast("timestamp").alias("completed_at"),
        F.lit(None).cast("string").alias("last_cursor"),
        F.lit(None).cast("int").alias("total_items"),
        F.lit(0).alias("processed_items"),
        F.lit(None).cast("string").alias("error_message"),
    )


# ---------------------------------------------------------------------------
# A7: conditional enqueue (job_scheduler.py:49-77)
# ---------------------------------------------------------------------------
@register(
    "ledger_enqueue_due",
    "WITH " + _JOBS_CTE + """,
recent AS (
  SELECT DISTINCT target_username FROM jobs
  WHERE job_type IN ('profile', 'followers', 'following')
    AND started_at > TIMESTAMP '2001-07-25 00:00:00'
),
fresh AS (
  SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS target_username
  FROM customer
  WHERE target_username NOT IN (SELECT target_username FROM recent)
),
new_jobs AS (
  SELECT f.target_username, t.job_type
  FROM fresh f CROSS JOIN (VALUES ('profile'), ('followers'), ('following'))
    AS t(job_type)
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY target_username, job_type)
            + (SELECT MAX(job_id) FROM jobs) AS BIGINT) AS job_id,
       target_username, job_type, status
FROM (SELECT target_username, job_type, 'pending' AS status FROM new_jobs)
""",
    doc="A7: enqueue 3 job types per user unless a scrape started in the "
        "last 7 days; dense ids above the ledger max",
    tags=("write", "ledger", "antijoin"),
)
def q_ledger_enqueue_due(spark: SparkSession, sf_dir: str) -> DataFrame:
    jobs = _jobs_fixture(spark, sf_dir)
    candidates = load_testdata(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("target_username")
    )
    new_jobs = enqueue_due(_ledger_shaped(jobs), candidates, _CUTOFF)
    # dense ids above the current ledger max — the 1-row agg broadcasts
    mx = jobs.agg(F.max("job_id").alias("_mx"))
    return (
        assign_dense_ids(
            new_jobs.crossJoin(F.broadcast(mx)),
            "_rn",
            order_by=["target_username", "job_type"],
        )
        .select(
            (F.col("_rn") + F.col("_mx")).cast("long").alias("job_id"),
            "target_username",
            "job_type",
            "status",
        )
    )


# ---------------------------------------------------------------------------
# O1 + A4: FIFO dequeue then batch transition to in_progress
# ---------------------------------------------------------------------------
@register(
    "ledger_dequeue_transition",
    "WITH " + _JOBS_CTE + """,
picked AS (
  SELECT job_id FROM jobs WHERE status = 'pending'
  ORDER BY job_id LIMIT 100
)
SELECT job_id, target_username, job_type,
       CASE WHEN job_id IN (SELECT job_id FROM picked)
            THEN 'in_progress' ELSE status END AS status,
       epoch_us(CASE WHEN job_id IN (SELECT job_id FROM picked)
                     THEN TIMESTAMP '2001-08-01 00:00:00'
                     ELSE started_at END) AS started_us
FROM jobs
""",
    doc="A4 set-based: dequeue 100 oldest pending, mark in_progress + "
        "stamp started_at, single broadcast-join pass",
    tags=("write", "ledger", "update"),
)
def q_ledger_dequeue_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    jobs = _ledger_shaped(_jobs_fixture(spark, sf_dir))
    batch = dequeue_pending(jobs, 100).select(
        "job_id",
        F.lit("in_progress").alias("status"),
        F.lit(_NOW).alias("started_at"),
    )
    out = update_jobs(jobs, batch)
    return out.select(
        "job_id",
        "target_username",
        "job_type",
        "status",
        F.unix_micros("started_at").alias("started_us"),
    )


# ---------------------------------------------------------------------------
# A5/A6: complete/fail transitions with completed_at + error_message
# ---------------------------------------------------------------------------
@register(
    "ledger_complete_batch",
    "WITH " + _JOBS_CTE + """
SELECT job_id,
       CASE WHEN status = 'in_progress' AND job_id % 2 = 0 THEN 'completed'
            WHEN status = 'in_progress' THEN 'failed' ELSE status END AS status,
       epoch_us(CASE WHEN status = 'in_progress' AND job_id % 2 = 0
                     THEN TIMESTAMP '2001-08-01 00:00:00' END) AS completed_us,
       CASE WHEN status = 'in_progress' AND job_id % 2 <> 0
            THEN 'handler error' END AS error_message
FROM jobs
""",
    doc="A5/A6: batch complete (even ids) / fail (odd ids) the in-flight "
        "set, stamping completed_at and error_message",
    tags=("write", "ledger", "update"),
)
def q_ledger_complete_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    jobs = _ledger_shaped(_jobs_fixture(spark, sf_dir))
    even = F.col("job_id") % 2 == 0
    outcomes = jobs.filter(F.col("status") == "in_progress").select(
        "job_id",
        F.when(even, "completed").otherwise("failed").alias("status"),
        F.when(even, F.lit(_NOW)).alias("completed_at"),
        F.when(~even, "handler error").alias("error_message"),
    )
    out = update_jobs(jobs, outcomes)
    return out.select(
        "job_id",
        "status",
        F.unix_micros("completed_at").alias("completed_us"),
        "error_message",
    )


# ---------------------------------------------------------------------------
# A4 point update: update_jobs with a one-row update frame
# ---------------------------------------------------------------------------
@register(
    "ledger_point_update",
    "WITH " + _JOBS_CTE + """
SELECT job_id, status, error_message, processed_items
FROM (
  SELECT job_id,
         CASE WHEN job_id = 42 THEN 'failed' ELSE status END AS status,
         CASE WHEN job_id = 42 THEN 'rate limited' END AS error_message,
         CASE WHEN job_id = 42 THEN 7 ELSE 0 END AS processed_items
  FROM jobs
)
""",
    doc="A4 point form: UPDATE scrape_jobs SET ... WHERE job_id = 42 "
        "(instagram_scraper.py:284-314)",
    tags=("write", "ledger", "update"),
)
def q_ledger_point_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    jobs = _ledger_shaped(_jobs_fixture(spark, sf_dir))
    updates = spark.createDataFrame(
        [(42, "failed", "rate limited", 7)],
        "job_id long, status string, error_message string, processed_items int",
    )
    out = update_jobs(jobs, updates)
    return out.select("job_id", "status", "error_message", "processed_items")


# ---------------------------------------------------------------------------
# A8: targeted delete of old failed jobs
# ---------------------------------------------------------------------------
@register(
    "ledger_delete_failed",
    "WITH " + _JOBS_CTE + """
SELECT job_id, status FROM jobs j
WHERE NOT EXISTS (
  SELECT 1 FROM jobs t
  WHERE t.status = 'failed'
    AND t.started_at < TIMESTAMP '2000-01-01 00:00:00'
    AND t.job_id = j.job_id
)
""",
    doc="A8: DELETE ... USING — drop failed jobs started before 2000 "
        "(left-anti overwrite, tests/test_scraper.py:293-297)",
    tags=("write", "ledger", "delete"),
)
def q_ledger_delete_failed(spark: SparkSession, sf_dir: str) -> DataFrame:
    jobs = _jobs_fixture(spark, sf_dir)
    targets = jobs.filter(
        (F.col("status") == "failed")
        & (F.col("started_at") < F.lit("2000-01-01").cast("timestamp"))
    )
    return delete_matching(jobs, targets, keys=["job_id"]).select(
        "job_id", "status"
    )


# ---------------------------------------------------------------------------
# A3: dense id assignment (SERIAL/RETURNING)
# ---------------------------------------------------------------------------
@register(
    "ledger_assign_ids",
    "WITH " + _JOBS_CTE + """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY target_username, job_type, job_id)
            + 999 AS BIGINT) AS assigned_id,
       job_id, target_username, job_type
FROM jobs WHERE status = 'pending'
""",
    doc="A3: SERIAL replacement — dense ids in a total order over the "
        "pending batch, offset above an existing max",
    tags=("write", "ledger", "ids"),
)
def q_ledger_assign_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    pending = _jobs_fixture(spark, sf_dir).filter(F.col("status") == "pending")
    return assign_dense_ids(
        pending,
        "assigned_id",
        order_by=["target_username", "job_type", "job_id"],
        start=1000,
    ).select("assigned_id", "job_id", "target_username", "job_type")


# ---------------------------------------------------------------------------
# T7: completeness trigger (both edge scrapes done)
# ---------------------------------------------------------------------------
@register(
    "ledger_both_complete",
    "WITH " + _JOBS_CTE + """
SELECT target_username
FROM jobs
WHERE status = 'completed' AND job_type IN ('followers', 'following')
GROUP BY target_username
HAVING COUNT(DISTINCT job_type) = 2
""",
    doc="T7: usernames whose followers AND following scrapes completed — "
        "the mutuals trigger gate, set-based (job_scheduler.py:124-148)",
    tags=("ledger", "agg", "trigger"),
)
def q_ledger_both_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    jobs = _jobs_fixture(spark, sf_dir)
    return both_complete_users(jobs)


# ---------------------------------------------------------------------------
# T3: daily quota admission (batch twin of the streaming quota_gate)
# ---------------------------------------------------------------------------
@register(
    "daily_quota_admission",
    """
SELECT user_id, event_id,
       ROW_NUMBER() OVER (
         PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id
       ) <= 5 AS admitted
FROM events
""",
    doc="T3: admit first 5 events per (user, day) in (ts, event_id) order "
        "(job_scheduler.py:29-47; batch twin of quota_gate)",
    tags=("ledger", "window", "quota"),
)
def q_daily_quota_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_testdata(spark, sf_dir, "events")
    return daily_quota_admission(events, 5)


# ---------------------------------------------------------------------------
# Snapshot diff (CDC between full snapshots): the reconciliation the
# reference performed implicitly by re-scraping full follower lists.
# The "new" snapshot is derived deterministically from customer:
# drop custkey % 97 == 0 (removed), bump acctbal where % 7 == 0
# (changed), add shifted ids for % 89 == 0 (added).
# ---------------------------------------------------------------------------
_SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT c_custkey, c_acctbal FROM customer
), new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT c_custkey + 100000, 0.0 FROM customer WHERE c_custkey % 89 = 0
)
SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'added'
            WHEN n.c_custkey IS NULL THEN 'removed'
            WHEN o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
              THEN 'unchanged'
            ELSE 'changed' END AS change
FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
"""


@register(
    "snapshot_diff",
    _SNAPSHOT_DIFF_ORACLE,
    doc="CDC between full table snapshots: one full outer join on the "
        "key, null-safe per-column comparison, added/removed/changed/"
        "unchanged classification — the reconciliation feeding an SCD2 "
        "merge when upstream ships only full snapshots",
    tags=("writes", "join", "cdc"),
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.writes import snapshot_diff

    cust = load_testdata(spark, sf_dir, "customer")
    old = cust.select("c_custkey", "c_acctbal")
    new = (
        cust.filter(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 10.0
            ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 89 == 0).select(
                (F.col("c_custkey") + 100000).alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    return snapshot_diff(old, new, keys=["c_custkey"])


# ---------------------------------------------------------------------------
# SCD2 history maintenance over the same perturbed snapshot as
# snapshot_diff: seed every customer as a current version at t0, fold
# the new snapshot in at t1, return the full versioned history.
# ---------------------------------------------------------------------------
_SCD2_T0 = "2024-01-01 00:00:00"
_SCD2_T1 = "2024-02-01 00:00:00"

_SCD2_ORACLE = f"""
WITH old AS (
  SELECT c_custkey, c_acctbal FROM customer
), new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 10.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT c_custkey + 100000, 0.0 FROM customer WHERE c_custkey % 89 = 0
), d AS (
  SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
         CASE WHEN o.c_custkey IS NULL THEN 'added'
              WHEN n.c_custkey IS NULL THEN 'removed'
              WHEN o.c_acctbal IS NOT DISTINCT FROM n.c_acctbal
                THEN 'unchanged'
              ELSE 'changed' END AS change
  FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
)
SELECT o.c_custkey, o.c_acctbal,
       TIMESTAMP '{_SCD2_T0}' AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to,
       TRUE AS is_current
FROM old o JOIN d ON o.c_custkey = d.c_custkey
WHERE d.change = 'unchanged'
UNION ALL
SELECT o.c_custkey, o.c_acctbal,
       TIMESTAMP '{_SCD2_T0}', TIMESTAMP '{_SCD2_T1}', FALSE
FROM old o JOIN d ON o.c_custkey = d.c_custkey
WHERE d.change IN ('changed', 'removed')
UNION ALL
SELECT n.c_custkey, n.c_acctbal,
       TIMESTAMP '{_SCD2_T1}', CAST(NULL AS TIMESTAMP), TRUE
FROM new n JOIN d ON n.c_custkey = d.c_custkey
WHERE d.change IN ('added', 'changed')
"""


@register(
    "scd2_history",
    _SCD2_ORACLE,
    doc="SCD2 fold of a full snapshot into a versioned dimension "
        "history: changed/removed current rows close at the batch "
        "timestamp, added/changed keys open new versions, unchanged "
        "and already-closed rows pass through — append-plus-flag-flip "
        "on exactly the keys the diff touched; batch_ts is a logical "
        "literal so replays are bit-identical",
    tags=("writes", "cdc", "temporal"),
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.writes import scd2_apply

    cust = load_testdata(spark, sf_dir, "customer")
    history = cust.select(
        "c_custkey",
        "c_acctbal",
        F.lit(_SCD2_T0).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    snapshot = (
        cust.filter(F.col("c_custkey") % 97 != 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 10.0
            ).otherwise(F.col("c_acctbal")).alias("c_acctbal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 89 == 0).select(
                (F.col("c_custkey") + 100000).alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    return scd2_apply(
        history, snapshot, keys=["c_custkey"],
        compare_cols=["c_acctbal"], batch_ts=_SCD2_T1,
    )


# ---------------------------------------------------------------------------
# SCD2 point-in-time views: the consumer-side pair of the history fold
# — one date inside the first version interval (reconstructing the old
# snapshot exactly) and one after the fold (the current view), both
# pure pushed filters over the same history.
# ---------------------------------------------------------------------------
_SCD2_AS_OF_A, _SCD2_AS_OF_B = "2024-01-15 00:00:00", "2024-02-15 00:00:00"

_SCD2_AS_OF_ORACLE = f"""
WITH hist AS ({_SCD2_ORACLE})
SELECT TIMESTAMP '{_SCD2_AS_OF_A}' AS as_of, c_custkey, c_acctbal
FROM hist
WHERE valid_from <= TIMESTAMP '{_SCD2_AS_OF_A}'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SCD2_AS_OF_A}')
UNION ALL
SELECT TIMESTAMP '{_SCD2_AS_OF_B}', c_custkey, c_acctbal
FROM hist
WHERE valid_from <= TIMESTAMP '{_SCD2_AS_OF_B}'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '{_SCD2_AS_OF_B}')
"""


@register(
    "scd2_as_of",
    _SCD2_AS_OF_ORACLE,
    doc="SCD2 point-in-time views (the consumer side of the history "
        "fold): one date inside the first interval reconstructs the "
        "pre-fold snapshot exactly, one after the fold gives the "
        "current view — both pure pushed filters over the history, "
        "no window, no join",
    tags=("writes", "cdc", "temporal"),
)
def q_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.writes import scd2_as_of

    hist = q_scd2_history(spark, sf_dir)
    a = scd2_as_of(hist, _SCD2_AS_OF_A).select(
        F.lit(_SCD2_AS_OF_A).cast("timestamp").alias("as_of"),
        "c_custkey", "c_acctbal",
    )
    b = scd2_as_of(hist, _SCD2_AS_OF_B).select(
        F.lit(_SCD2_AS_OF_B).cast("timestamp").alias("as_of"),
        "c_custkey", "c_acctbal",
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# Table-format retention + point-lookup pruning, driver-checked (VERDICT
# r5 Next #7): two upsert-keep-newest merges into a TransactionLogFormat
# table, expire_versions drops the pre-merge manifest (and reclaims the
# files only it referenced), then read_for_keys answers a key-scoped
# lookup off the surviving version — reading ONLY the buckets the keys
# hash to. The oracle replays the merge as a full-outer coalesce and the
# lookup as a plain filter: green means retention + bucket pruning
# change NOTHING about answers.
# ---------------------------------------------------------------------------
_TXLOG_CUT = "1997-01-01"

_TXLOG_RETENTION_ORACLE = f"""
WITH b1 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), b2 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), merged AS (
  SELECT COALESCE(b2.k, b1.k) AS k,
         COALESCE(b2.v, b1.v) AS v,
         COALESCE(b2.ts, b1.ts) AS ts
  FROM b1 FULL OUTER JOIN b2 ON b1.k = b2.k
)
SELECT k, v, ts FROM merged WHERE k % 97 = 0
"""


@register(
    "txlog_retention_lookup",
    _TXLOG_RETENTION_ORACLE,
    doc="transaction-log table format end-to-end: upsert-keep-newest "
        "merge x2 (CAS-published versions), expire_versions retention "
        "(old manifest dropped FIRST, then its exclusive files), then a "
        "read_for_keys point lookup that opens only the buckets the "
        "requested keys hash to — the manifest-as-index property that "
        "keeps key-scoped reads O(keys/buckets) at 100 TB. Oracle is "
        "the merge-as-full-outer-coalesce plus a plain key filter.",
    tags=("writes", "format", "retention"),
)
def q_txlog_retention_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders")

    def batch(pred):
        return (
            orders.filter(pred)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(
                F.max("o_totalprice").alias("v"),
                F.max("o_orderdate").alias("ts"),
            )
        )

    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    fmt = TransactionLogFormat()
    wh = Warehouse(
        spark, _scratch("txlog_retention", sf_dir), fmt=fmt
    )
    wh.upsert_partitioned(
        "facts", batch(F.col("o_orderdate") < cut), ["k"], "ts",
        num_buckets=8,
    )
    wh.upsert_partitioned(
        "facts", batch(F.col("o_orderdate") >= cut), ["k"], "ts",
        num_buckets=8,
    )
    # retention: only the post-merge version survives (grace waived —
    # this query owns the table, writer quiescence is guaranteed)
    expired, _ = fmt.expire_versions(
        wh, "facts", keep_last=1, grace_seconds=0.0
    )
    assert expired == [1], expired
    keys = (
        orders.select(F.col("o_custkey").alias("k"))
        .dropDuplicates()
        .filter(F.col("k") % 97 == 0)
    )
    return fmt.read_for_keys(
        wh, "facts", ["k"], keys, num_buckets=8
    ).select("k", "v", "ts")


# ---------------------------------------------------------------------------
# Incremental materialized-view refresh: merge yesterday's aggregate
# with the delta's partials (full-outer coalesce-add on the group key)
# and prove the result hash-equals a from-scratch recompute — the
# O(delta)-per-refresh story that replaces an O(history) rescan.
# ---------------------------------------------------------------------------
_MV_CUT = "1997-07-01"

_MV_REFRESH_ORACLE = """
SELECT o_custkey AS k,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS revenue
FROM orders GROUP BY o_custkey
"""


@register(
    "mv_incremental_refresh",
    _MV_REFRESH_ORACLE,
    doc="incremental materialized-view maintenance: per-customer order "
        "count + DECIMAL-exact revenue, maintained as MV(history-before-"
        "cut) merged with the delta's partial aggregates via one "
        "full-outer coalesce-add join — the oracle is the from-scratch "
        "recompute over everything, so green means refresh-by-delta "
        "changes nothing. Refresh cost is one delta aggregation + one "
        "key join against the MV: O(delta), not O(100 TB history).",
    tags=("writes", "mv", "incremental"),
)
def q_mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.writes import incremental_agg_refresh

    orders = load_testdata(spark, sf_dir, "orders")
    cut = F.lit(_MV_CUT).cast("timestamp")

    def partial(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,10)"))
            .alias("rev"),
        )

    mv = incremental_agg_refresh(
        partial(orders.filter(F.col("o_orderdate") < cut)),
        partial(orders.filter(F.col("o_orderdate") >= cut)),
        keys=["k"],
        add_cols=["n_orders", "rev"],
    )
    return mv.select(
        "k",
        F.col("n_orders").cast("long").alias("n_orders"),
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Metadata-only COUNT off the transaction log: two keep-newest merges,
# then both versions' row counts served FROM THE MANIFEST (parquet
# footer numbers recorded at write time — no data file opened, no scan,
# O(manifest) at any table size: the Delta/Iceberg stats story). The
# oracle computes the same two counts semantically from orders; green
# means write-time stats + rebase carry-forward report exactly the
# truth a full scan would.
# ---------------------------------------------------------------------------
_TXLOG_COUNT_ORACLE = f"""
SELECT
  (SELECT COUNT(DISTINCT o_custkey) FROM orders
   WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}') AS v1_rows,
  (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS v2_rows
"""


@register(
    "txlog_count_pushdown",
    _TXLOG_COUNT_ORACLE,
    doc="metadata-only COUNT from the transaction log: per-file row "
        "counts recorded in the manifest at write time (parquet footer "
        "numbers, exact) answer COUNT(*) for the current AND any "
        "time-travel version without opening one data file — O(log) "
        "regardless of table size; oracle recomputes both counts "
        "semantically, proving stats == truth across a keep-newest "
        "merge with carried files",
    tags=("writes", "format", "stats"),
)
def q_txlog_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders")

    def batch(pred):
        return (
            orders.filter(pred)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(
                F.max("o_totalprice").alias("v"),
                F.max("o_orderdate").alias("ts"),
            )
        )

    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_count", sf_dir), fmt=fmt)
    wh.upsert_partitioned(
        "facts", batch(F.col("o_orderdate") < cut), ["k"], "ts",
        num_buckets=8,
    )
    wh.upsert_partitioned(
        "facts", batch(F.col("o_orderdate") >= cut), ["k"], "ts",
        num_buckets=8,
    )
    v1 = fmt.count_rows(wh, "facts", version=1)
    v2 = fmt.count_rows(wh, "facts")
    return spark.createDataFrame(
        [(v1, v2)], "v1_rows long, v2_rows long"
    )


# ---------------------------------------------------------------------------
# Zone-map range scan off the transaction log (VERDICT r6 Next #3): the
# manifest records per-file column min/max at write time, the format's
# cluster_col layout (rows sorted by ts inside each bucket, split into
# bounded files) makes those ranges NARROW, and read_for_range opens
# only the overlapping files — the Delta/Iceberg data-skipping story
# for the commonest 100 TB scan filter (ts > X). The query asserts the
# pruning actually dropped files, then returns the range read; the
# oracle is the plain filter — green means skipping changes nothing.
# ---------------------------------------------------------------------------
_ZM_LO = "1995-01-01 00:00:00"
_ZM_HI = "1995-03-31 23:59:59"

_TXLOG_ZONEMAP_ORACLE = f"""
SELECT o_orderkey AS k, o_totalprice AS v, o_orderdate AS ts
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '{_ZM_LO}' AND TIMESTAMP '{_ZM_HI}'
"""


@register(
    "txlog_zonemap_scan",
    _TXLOG_ZONEMAP_ORACLE,
    doc="manifest min/max zone maps + within-bucket ts clustering: two "
        "disjoint-key merges build a clustered transaction-log table, "
        "then read_for_range(ts, Q1-1995) opens ONLY the files whose "
        "recorded range overlaps (asserted strictly-fewer in-query and "
        "in tests/test_io.py) — O(range) files at any table size, the "
        "data-skipping leg of the Delta/Iceberg stats design; oracle "
        "is the plain full-scan filter, proving skipping drops files, "
        "never rows",
    tags=("writes", "format", "stats", "pruning"),
)
def q_txlog_zonemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders")

    def batch(pred):
        return orders.filter(pred).select(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("v"),
            F.col("o_orderdate").alias("ts"),
        )

    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    # file granularity scaled to the SF: a fixed size collapses to one
    # file per bucket at small SFs and the pruning assertion tests
    # nothing (caught by the sf0.001 CI run)
    n = orders.count()
    fmt = TransactionLogFormat(
        cluster_col="ts", max_records_per_file=max(64, n // 32)
    )
    wh = Warehouse(
        spark, _scratch("txlog_zonemap", sf_dir), fmt=fmt
    )
    wh.upsert_partitioned(
        "facts", batch(F.col("o_orderdate") < cut), ["k"], "ts",
        num_buckets=8,
    )
    wh.upsert_partitioned(
        "facts", batch(F.col("o_orderdate") >= cut), ["k"], "ts",
        num_buckets=8,
    )
    lo = dt.datetime(1995, 1, 1, 0, 0, 0)
    hi = dt.datetime(1995, 3, 31, 23, 59, 59)
    snap = fmt._latest(wh, "facts")
    keep = fmt.files_for_range(snap, "ts", lo, hi)
    # the layout must make skipping real: strictly fewer files opened
    assert 0 < len(keep) < len(snap["files"]), (
        len(keep), len(snap["files"]),
    )
    return fmt.read_for_range(wh, "facts", "ts", lo, hi).select(
        "k", "v", "ts"
    )


# ---------------------------------------------------------------------------
# Small-file compaction off the transaction log (the Delta OPTIMIZE /
# Iceberg rewrite analog): incremental merges accrete files per bucket;
# compact() rewrites the oversized buckets into fresh files, carries
# the rest by reference, and CAS-publishes a new version — layout-only,
# answers identical, old versions still readable. The query builds a
# deliberately fragmented table (tiny max_records_per_file), compacts,
# asserts the file count strictly dropped, and returns the post-compact
# content; the oracle replays the merge semantically — green means
# compaction changed layout and nothing else.
# ---------------------------------------------------------------------------
_TXLOG_COMPACT_ORACLE = f"""
WITH b1 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), b2 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), merged AS (
  SELECT COALESCE(b2.k, b1.k) AS k,
         COALESCE(b2.v, b1.v) AS v,
         COALESCE(b2.ts, b1.ts) AS ts
  FROM b1 FULL OUTER JOIN b2 ON b1.k = b2.k
)
SELECT k, v, ts FROM merged WHERE k % 31 = 0
"""


@register(
    "txlog_compact",
    _TXLOG_COMPACT_ORACLE,
    doc="transaction-log small-file compaction (OPTIMIZE analog): two "
        "keep-newest merges under a tiny max_records_per_file fragment "
        "every bucket, compact() rewrites fragmented buckets into a "
        "fresh CAS-published version carrying the rest by reference "
        "(file count strictly reduced — asserted in-query and in "
        "tests/test_io.py, with time travel and zone maps intact); "
        "oracle replays the merge, proving compaction is layout-only",
    tags=("writes", "format", "compaction"),
)
def q_txlog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders")

    def batch(pred):
        return (
            orders.filter(pred)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(
                F.max("o_totalprice").alias("v"),
                F.max("o_orderdate").alias("ts"),
            )
        )

    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    # fragment granularity scaled to the SF (custkey-grained table is
    # ~10x smaller than orders): a fixed size leaves nothing to
    # compact at sf0.001 and the file-count assertion tests nothing
    n_keys = orders.select("o_custkey").dropDuplicates().count()
    frag = TransactionLogFormat(
        cluster_col="ts", max_records_per_file=max(8, n_keys // 48)
    )
    wh = Warehouse(
        spark, _scratch("txlog_compact", sf_dir), fmt=frag
    )
    wh.upsert_partitioned(
        "facts", batch(F.col("o_orderdate") < cut), ["k"], "ts",
        num_buckets=8,
    )
    wh.upsert_partitioned(
        "facts", batch(F.col("o_orderdate") >= cut), ["k"], "ts",
        num_buckets=8,
    )
    compactor = TransactionLogFormat(cluster_col="ts")
    n_before, n_after = compactor.compact(wh, "facts", ["k"], 8)
    assert n_after < n_before, (n_before, n_after)
    return (
        compactor.read_merged(wh, "facts")
        .filter(F.col("k") % 31 == 0)
        .select("k", "v", "ts")
    )


# ---------------------------------------------------------------------------
# MIN/MAX aggregate pushdown off the transaction log — the companion of
# txlog_count_pushdown: a snapshot's files hold exactly the live rows
# (merges rewrite whole touched buckets), so the table minimum is the
# min of per-file minima already sitting in the manifest's zone maps.
# minmax_stats serves MIN/MAX for numeric/timestamp columns — current
# AND time-travel versions — without opening one data file; the oracle
# recomputes all of it semantically from orders, replaying the
# keep-newest merge (batch-2 rows win overlapping keys because their
# order-col is >= the cut). Green means write-time footer stats == the
# truth a full scan would find, across carried and rewritten files.
# ---------------------------------------------------------------------------
_TXLOG_MINMAX_ORACLE = f"""
WITH b1 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), b2 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), merged AS (
  SELECT COALESCE(b2.k, b1.k) AS k,
         COALESCE(b2.v, b1.v) AS v,
         COALESCE(b2.ts, b1.ts) AS ts
  FROM b1 FULL OUTER JOIN b2 ON b1.k = b2.k
)
SELECT
  (SELECT MIN(k) FROM merged) AS k_min,
  (SELECT MAX(k) FROM merged) AS k_max,
  (SELECT MIN(v) FROM merged) AS v_min,
  (SELECT MAX(v) FROM merged) AS v_max,
  (SELECT epoch_us(MIN(ts)) FROM merged) AS ts_min_us,
  (SELECT epoch_us(MAX(ts)) FROM merged) AS ts_max_us,
  (SELECT COUNT(*) FROM merged) AS n_rows,
  (SELECT MIN(v) FROM b1) AS v1_v_min,
  (SELECT MAX(v) FROM b1) AS v1_v_max
"""


def _iso_to_us(s: str) -> int:
    """Manifest ISO-8601 timestamp key -> unix microseconds, integer
    arithmetic throughout (total_seconds() is a double and rounds past
    2^53 us; day/second/microsecond fields never do)."""
    import datetime as _dt

    d = _dt.datetime.fromisoformat(s)
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    td = d - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (td.days * 86400 + td.seconds) * 1_000_000 + td.microseconds


@register(
    "txlog_minmax_pushdown",
    _TXLOG_MINMAX_ORACLE,
    doc="metadata-only MIN/MAX from the transaction log's zone maps: "
        "per-file footer min/max recorded at write time answer column "
        "MIN/MAX for the current AND any time-travel version without "
        "opening one data file (exactness type-gated to numeric/"
        "temporal — string footer bounds may be truncated, so they're "
        "refused, never wrong); oracle replays the keep-newest merge "
        "and recomputes every aggregate semantically, proving manifest "
        "stats == full-scan truth across carried and rewritten files",
    tags=("writes", "format", "stats"),
)
def q_txlog_minmax_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders")

    def batch(pred):
        return (
            orders.filter(pred)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(
                F.max("o_totalprice").alias("v"),
                F.max("o_orderdate").alias("ts"),
            )
        )

    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    fmt = TransactionLogFormat(cluster_col="ts", max_records_per_file=512)
    wh = Warehouse(spark, _scratch("txlog_minmax", sf_dir), fmt=fmt)
    wh.upsert_partitioned(
        "facts", batch(F.col("o_orderdate") < cut), ["k"], "ts",
        num_buckets=8,
    )
    wh.upsert_partitioned(
        "facts", batch(F.col("o_orderdate") >= cut), ["k"], "ts",
        num_buckets=8,
    )
    # the fast path must actually be metadata: every live file carries
    # recorded stats for every served column
    snap = fmt._latest(wh, "facts")
    assert all(
        {"k", "v", "ts"} <= set(snap["stats"].get(f, {}))
        for f in snap["files"]
    )
    cur = fmt.minmax_stats(wh, "facts", ["k", "v", "ts"])
    v1 = fmt.minmax_stats(wh, "facts", ["v"], version=1)
    n = fmt.count_rows(wh, "facts")
    return spark.createDataFrame(
        [(
            cur["k"][0], cur["k"][1], cur["v"][0], cur["v"][1],
            _iso_to_us(cur["ts"][0]), _iso_to_us(cur["ts"][1]),
            n, v1["v"][0], v1["v"][1],
        )],
        "k_min long, k_max long, v_min double, v_max double, "
        "ts_min_us long, ts_max_us long, n_rows long, "
        "v1_v_min double, v1_v_max double",
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustered layout + conjunctive box scan: the
# multi-column half of the zone-map story. txlog_zonemap_scan proves
# single-column clustering prunes its one column; here the format
# sorts each bucket by the interleaved-bit Z-curve of (customer,
# price) — Delta's OPTIMIZE ZORDER recipe — so EVERY file's zone map
# is a small box in the 2-D value space and a predicate on either
# column, or both, drops files. The query asserts in-plan that each
# dimension alone pruned and that the conjunction pruned at least as
# hard, then returns the box read; the oracle is the plain two-range
# filter — green means the curve changes which files open, never
# which rows return.
# ---------------------------------------------------------------------------
_TXLOG_ZORDER_ORACLE = """
SELECT o_orderkey AS k, o_totalprice AS v, o_orderdate AS ts
FROM orders
WHERE o_totalprice BETWEEN 50000 AND 150000
  AND o_orderdate BETWEEN TIMESTAMP '1994-01-01 00:00:00'
                      AND TIMESTAMP '1995-12-31 23:59:59'
"""


@register(
    "txlog_zorder_scan",
    _TXLOG_ZORDER_ORACLE,
    doc="Z-order clustered transaction-log layout (Morton interleave "
        "of min-max-scaled customer/price, one codegen expression, no "
        "UDF) + manifest box pruning: a conjunctive 2-D range opens "
        "only files whose zone-map BOX overlaps both ranges — each "
        "dimension alone prunes (asserted in-query; single-column "
        "clustering leaves the second dimension unprunable, pinned in "
        "tests/test_io.py) — the OPTIMIZE ZORDER data-skipping story; "
        "oracle is the plain full-scan filter",
    tags=("writes", "format", "stats", "pruning"),
)
def q_txlog_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("v"),
        F.col("o_orderdate").alias("ts"),
    )
    # file granularity scaled to the SF so the layout always yields
    # multiple files per bucket (the pruning targets) — at a fixed
    # size, small SFs would collapse to one file per bucket and the
    # in-query pruning assertions would test nothing
    n = orders.count()
    fmt = TransactionLogFormat(
        zorder_cols=["v", "ts"], max_records_per_file=max(64, n // 32)
    )
    wh = Warehouse(spark, _scratch("txlog_zorder", sf_dir), fmt=fmt)
    wh.upsert_partitioned("facts", orders, ["k"], "ts", num_buckets=4)

    box = {
        "v": (50000.0, 150000.0),
        "ts": (
            dt.datetime(1994, 1, 1, 0, 0, 0),
            dt.datetime(1995, 12, 31, 23, 59, 59),
        ),
    }
    snap = fmt._latest(wh, "facts")
    total = len(snap["files"])
    keep_v = fmt.files_for_range(snap, "v", *box["v"])
    keep_ts = fmt.files_for_range(snap, "ts", *box["ts"])
    keep = fmt.files_for_box(snap, box)
    # the curve must make BOTH dimensions individually prunable, and
    # the conjunction can only tighten
    assert len(keep_v) < total and len(keep_ts) < total, (
        len(keep_v), len(keep_ts), total,
    )
    assert 0 < len(keep) <= min(len(keep_v), len(keep_ts))
    return fmt.read_for_box(wh, "facts", box).select("k", "v", "ts")


# ---------------------------------------------------------------------------
# Change data feed between committed versions — the Delta CDF analog,
# derived from time travel alone (no per-write change files): v1 = the
# pre-cut ledger, v2 = a keep-newest merge of refreshed aggregates for
# every third customer (a mix of inserts, real updates, and no-op
# re-writes), v3 = delete_keys of every fifth customer (the GDPR-erase
# path: only the victims' buckets rewritten, CAS-published). The feed
# v1 -> v3 must emit insert / delete / update_preimage +
# update_postimage rows and stay SILENT for rows that were rewritten
# byte-identical (the no-op refreshes) — the oracle replays all three
# states semantically and derives the same classification.
# ---------------------------------------------------------------------------
_TXLOG_CDF_ORACLE = f"""
WITH b1 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), b2 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_custkey % 3 = 0 GROUP BY 1
), s2 AS (
  SELECT COALESCE(b2.k, b1.k) AS k,
         COALESCE(b2.v, b1.v) AS v,
         COALESCE(b2.ts, b1.ts) AS ts
  FROM b1 FULL OUTER JOIN b2 ON b1.k = b2.k
), s3 AS (
  SELECT * FROM s2 WHERE k % 5 <> 0
)
SELECT 'insert' AS _change_type, s3.k, s3.v, s3.ts
FROM s3 LEFT JOIN b1 ON b1.k = s3.k WHERE b1.k IS NULL
UNION ALL
SELECT 'delete', b1.k, b1.v, b1.ts
FROM b1 LEFT JOIN s3 ON s3.k = b1.k WHERE s3.k IS NULL
UNION ALL
SELECT 'update_preimage', b1.k, b1.v, b1.ts
FROM b1 JOIN s3 ON b1.k = s3.k WHERE b1.v <> s3.v OR b1.ts <> s3.ts
UNION ALL
SELECT 'update_postimage', s3.k, s3.v, s3.ts
FROM b1 JOIN s3 ON b1.k = s3.k WHERE b1.v <> s3.v OR b1.ts <> s3.ts
"""


@register(
    "txlog_change_feed",
    _TXLOG_CDF_ORACLE,
    doc="change data feed between transaction-log versions (Delta CDF "
        "analog, no per-write change files): manifest diff scopes both "
        "reads to buckets whose FILE SETS differ (carried-by-reference "
        "buckets cannot hold changes — O(changed data), not O(table)), "
        "then one full-outer join classifies insert / delete / update "
        "pre+post, silent on byte-identical re-writes; exercises "
        "delete_keys, the targeted GDPR-erase (anti-join rewrite of "
        "only the victims' buckets, exact deleted-count from manifest "
        "arithmetic); oracle replays all three versions semantically",
    tags=("writes", "format", "cdc"),
)
def q_txlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max("o_totalprice").alias("v"),
            F.max("o_orderdate").alias("ts"),
        )

    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_cdf", sf_dir), fmt=fmt)
    wh.upsert_partitioned(
        "facts", agg(orders.filter(F.col("o_orderdate") < cut)),
        ["k"], "ts", num_buckets=8,
    )
    wh.upsert_partitioned(
        "facts", agg(orders.filter(F.col("o_custkey") % 3 == 0)),
        ["k"], "ts", num_buckets=8,
    )
    victims = (
        orders.filter(F.col("o_custkey") % 5 == 0)
        .select(F.col("o_custkey").alias("k"))
        .dropDuplicates()
    )
    deleted = fmt.delete_keys(wh, "facts", ["k"], victims, num_buckets=8)
    assert deleted > 0
    feed = fmt.changes_between(wh, "facts", ["k"], 1, 3)
    return feed.select("_change_type", "k", "v", "ts")


# ---------------------------------------------------------------------------
# Bloom-indexed point lookup off the transaction log — the third leg of
# the manifest-stats story (COUNT/MIN-MAX = aggregates, zone maps =
# ranges, blooms = equality on columns neither keyed nor clustered):
# each file carries a bloom bitmap for the document fingerprint column,
# so "find the doc(s) with THIS hash" — the dedup-probe every ingest
# batch runs against the corpus — opens O(1 + false positives) files
# at any table size instead of scanning the corpus. The probe is doc 7's
# md5 recomputed identically in both engines; the oracle is the plain
# full-scan equality. Green means bloom pruning drops files, never rows
# (planted exact-dups of the probed text surface on both sides).
# ---------------------------------------------------------------------------
_TXLOG_BLOOM_ORACLE = """
SELECT d.doc_id AS k, d.source, md5(d.text) AS fp
FROM documents d
WHERE md5(d.text) = (SELECT md5(text) FROM documents WHERE doc_id = 7)
"""


@register(
    "txlog_bloom_lookup",
    _TXLOG_BLOOM_ORACLE,
    doc="manifest bloom index (Delta/Parquet bloom-filter design): "
        "per-file bitmaps for the fingerprint column let an equality "
        "probe on a non-key, non-clustered, high-cardinality column "
        "open O(1 + fp) files at any table size (asserted in-query: "
        "strictly fewer files than the snapshot); md5 double-hashing, "
        "bitmaps ride the stats dict through every carry/rebase path; "
        "oracle is the plain full-scan equality on the same recomputed "
        "fingerprint",
    tags=("writes", "format", "stats", "pruning"),
)
def q_txlog_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import BLOOM_KEY, TransactionLogFormat
    from ..io import Warehouse

    docs = load_testdata(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("k"),
        "source",
        F.md5(F.col("text")).alias("fp"),
        F.lit("2024-01-01").cast("timestamp").alias("ts"),
    )
    n = docs.count()
    mrpf = max(8, n // 16)
    fmt = TransactionLogFormat(
        bloom_cols=["fp"],
        bloom_bits=max(4096, mrpf * 16),
        max_records_per_file=mrpf,
    )
    wh = Warehouse(spark, _scratch("txlog_bloom", sf_dir), fmt=fmt)
    wh.upsert_partitioned("facts", docs, ["k"], "ts", num_buckets=8)

    probe = docs.filter(F.col("k") == 7).select("fp").first().fp
    snap = fmt._latest(wh, "facts")
    assert all(
        "fp" in s.get(BLOOM_KEY, {}) for s in snap["stats"].values()
    )
    keep = fmt.files_for_value(snap, "fp", probe)
    assert 0 < len(keep) < len(snap["files"]), (
        len(keep), len(snap["files"]),
    )
    return fmt.read_for_value(wh, "facts", "fp", probe).select(
        "k", "source", "fp"
    )


# ---------------------------------------------------------------------------
# The transaction log as a first-class Spark data source: the SAME
# range scan txlog_zonemap_scan serves through the format's own API,
# here through spark.read.format("txlog") with SPARK'S planner calling
# pushFilters — the manifest zone maps prune files inside query
# planning (pinned directly in tests/test_sources.py), every filter
# re-evaluated exactly post-scan. Green means the DataSource surface
# (schema from the manifest, one partition per surviving file, Arrow
# batches, additive-evolution null-fill) returns exactly the plain
# full-scan filter's rows.
# ---------------------------------------------------------------------------
_TXLOG_DS_ORACLE = f"""
SELECT o_orderkey AS k, o_totalprice AS v, o_orderdate AS ts
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '{_ZM_LO}' AND TIMESTAMP '{_ZM_HI}'
"""


@register(
    "txlog_datasource_scan",
    _TXLOG_DS_ORACLE,
    doc="format('txlog') batch read (PySpark 4 Python DataSource API): "
        "manifest schema, one input partition per data file, Arrow "
        "record batches, time travel via option('version'), and "
        "Spark's own pushFilters driving the manifest zone maps/blooms "
        "(files dropped in planning, rows never — filters re-applied "
        "exactly); oracle is the plain full-scan range filter",
    tags=("source", "format", "pruning"),
)
def q_txlog_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_source import TxlogDataSource

    orders = load_testdata(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("v"),
        F.col("o_orderdate").alias("ts"),
    )
    n = orders.count()
    fmt = TransactionLogFormat(
        cluster_col="ts", max_records_per_file=max(64, n // 32)
    )
    wh = Warehouse(spark, _scratch("txlog_ds", sf_dir), fmt=fmt)
    wh.upsert_partitioned("facts", orders, ["k"], "ts", num_buckets=4)

    # set-and-leave (the load_testdata nanosAsLong convention): the
    # returned frame plans at driver-execution time, AFTER this
    # function exits — restoring the conf would fail that planning
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxlogDataSource)
    return (
        spark.read.format("txlog")
        .load(wh.path("facts"))
        .filter(
            F.col("ts").between(
                F.lit(_ZM_LO).cast("timestamp"),
                F.lit(_ZM_HI).cast("timestamp"),
            )
        )
        .select("k", "v", "ts")
    )


# ---------------------------------------------------------------------------
# The change feed as a STREAM: readStream.format("txlog_changes") with
# version-number offsets — the Delta-CDF streaming-source analog, built
# on the PySpark 4 simple stream-reader API. Three drains of one
# checkpoint (after the initial load, after a refresh merge, after a
# targeted delete) must emit exactly the three per-version change sets,
# exactly-once through the sink's commit log; the oracle replays all
# three steps semantically. The simple reader is driver-side by design
# (Spark's control-plane streaming path; bulk backfills belong on the
# distributed changes_between inside foreachBatch — module docstring).
# ---------------------------------------------------------------------------
_TXLOG_STREAM_CDF_ORACLE = f"""
WITH b1 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), b2 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_custkey % 3 = 0 GROUP BY 1
), s2 AS (
  SELECT COALESCE(b2.k, b1.k) AS k,
         COALESCE(b2.v, b1.v) AS v,
         COALESCE(b2.ts, b1.ts) AS ts
  FROM b1 FULL OUTER JOIN b2 ON b1.k = b2.k
)
SELECT 'insert' AS _change_type, k, v, ts FROM b1
UNION ALL
SELECT 'insert', b2.k, b2.v, b2.ts
FROM b2 LEFT JOIN b1 ON b1.k = b2.k WHERE b1.k IS NULL
UNION ALL
SELECT 'update_preimage', b1.k, b1.v, b1.ts
FROM b1 JOIN b2 ON b1.k = b2.k WHERE b1.v <> b2.v OR b1.ts <> b2.ts
UNION ALL
SELECT 'update_postimage', b2.k, b2.v, b2.ts
FROM b1 JOIN b2 ON b1.k = b2.k WHERE b1.v <> b2.v OR b1.ts <> b2.ts
UNION ALL
SELECT 'delete', k, v, ts FROM s2 WHERE k % 5 = 0
"""


@register(
    "txlog_stream_changes",
    _TXLOG_STREAM_CDF_ORACLE,
    doc="streaming change feed: readStream.format('txlog_changes') "
        "with version-number offsets (PySpark 4 simple stream reader) "
        "drained after each of three commits — initial load, refresh "
        "merge, targeted delete — into one exactly-once file sink; "
        "per-version insert/update-pre+post/delete rows, silent on "
        "byte-identical re-writes; oracle replays the three steps "
        "semantically (the Delta CDF streaming-source analog)",
    tags=("streaming", "format", "cdc", "source"),
)
def q_txlog_stream_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_source import TxlogChangesDataSource

    scratch = _scratch("txlog_stream_cdf", sf_dir)
    out, ckpt = os.path.join(scratch, "out"), os.path.join(scratch, "ckpt")

    orders = load_testdata(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max("o_totalprice").alias("v"),
            F.max("o_orderdate").alias("ts"),
        )

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, os.path.join(scratch, "wh"), fmt=fmt)
    spark.dataSource.register(TxlogChangesDataSource)

    def drain():
        q = (
            spark.readStream.format("txlog_changes")
            .option("keys", "k").load(wh.path("facts"))
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()

    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    wh.upsert_partitioned(
        "facts", agg(orders.filter(F.col("o_orderdate") < cut)),
        ["k"], "ts", num_buckets=8,
    )
    drain()  # version 1: everything arrives as insert
    wh.upsert_partitioned(
        "facts", agg(orders.filter(F.col("o_custkey") % 3 == 0)),
        ["k"], "ts", num_buckets=8,
    )
    drain()  # version 2: refresh-merge inserts + updates
    victims = (
        orders.filter(F.col("o_custkey") % 5 == 0)
        .select(F.col("o_custkey").alias("k"))
        .dropDuplicates()
    )
    fmt.delete_keys(wh, "facts", ["k"], victims, num_buckets=8)
    drain()  # version 3: targeted erasure flows as delete rows
    return spark.read.parquet(out).select("_change_type", "k", "v", "ts")


# ---------------------------------------------------------------------------
# Column-mapping schema evolution (VERDICT r7 Next #4): RENAME is a
# metadata-only commit — the field keeps its id and physical name,
# every data file is carried by reference — after which merges speak
# the NEW logical name against the ORIGINAL physical bytes, while time
# travel still serves version 1 under the pre-rename name. The query
# returns BOTH snapshots tagged; the oracle replays the two states
# semantically (pre-cut aggregate, then the keep-newest merge), blind
# to the rename because the rename changed no values — exactly the
# property a green row certifies.
# ---------------------------------------------------------------------------
_TXLOG_RENAME_ORACLE = f"""
WITH pre AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS val, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), post AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS val, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), cur AS (
  SELECT COALESCE(post.k, pre.k) AS k,
         COALESCE(post.val, pre.val) AS val,
         COALESCE(post.ts, pre.ts) AS ts
  FROM pre FULL OUTER JOIN post ON pre.k = post.k
)
SELECT 'v1' AS snapshot, k, val, ts FROM pre
UNION ALL
SELECT 'current' AS snapshot, k, val, ts FROM cur
"""


@register(
    "txlog_rename_evolution",
    _TXLOG_RENAME_ORACLE,
    doc="column-mapping schema evolution (Delta column mapping / "
        "Iceberg field-ID design): rename_column publishes a "
        "metadata-only version — asserted in-query: identical file "
        "set, field keeps its physical name — then a merge under the "
        "NEW logical name lands against the original physical bytes; "
        "returns version 1 (read under its own pre-rename schema) "
        "plus the current snapshot, tagged; oracle replays both "
        "states semantically",
    tags=("writes", "format", "evolution"),
)
def q_txlog_rename_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders")

    def agg(df, name):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max("o_totalprice").alias(name),
            F.max("o_orderdate").alias("ts"),
        )

    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_rename", sf_dir), fmt=fmt)
    wh.upsert_partitioned(
        "facts", agg(orders.filter(F.col("o_orderdate") < cut), "v"),
        ["k"], "ts", num_buckets=8,
    )
    files_v1 = fmt._latest(wh, "facts")["files"]
    fmt.rename_column(wh, "facts", "v", "val")
    snap = fmt._latest(wh, "facts")
    # metadata-only: zero data files touched, physical name kept
    assert snap["files"] == files_v1
    assert next(
        f for f in snap["fields"] if f["name"] == "val"
    )["phys"] == "v"
    # merge under the NEW logical name
    wh.upsert_partitioned(
        "facts", agg(orders.filter(F.col("o_orderdate") >= cut), "val"),
        ["k"], "ts", num_buckets=8,
    )
    v1 = fmt.read_version(wh, "facts", 1)
    assert v1.columns == ["k", "v", "ts"]  # history keeps the old name
    cur = fmt.read_merged(wh, "facts")
    assert cur.columns == ["k", "val", "ts"]
    return (
        v1.select(
            F.lit("v1").alias("snapshot"), "k",
            F.col("v").alias("val"), "ts",
        )
        .unionByName(
            cur.select(F.lit("current").alias("snapshot"), "k", "val", "ts")
        )
    )


# ---------------------------------------------------------------------------
# Merge-on-read deletes (VERDICT r7 Next #5): delete_keys_dv records
# the victims as per-file row-ordinal bitmaps in the manifest — a
# point delete touches ZERO data files (asserted in-query) — reads
# apply the DV as a broadcast anti-join, a second overlapping delete
# unions bitmaps, and compact materializes every DV away (asserted:
# no dv section survives). The oracle is the plain double filter: DV
# vs copy-on-write is a storage strategy, never an answer change.
# ---------------------------------------------------------------------------
_TXLOG_DV_ORACLE = """
SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
FROM orders
WHERE o_custkey % 5 <> 0 AND o_custkey % 11 <> 0
GROUP BY 1
"""


@register(
    "txlog_delete_vectors",
    _TXLOG_DV_ORACLE,
    doc="merge-on-read deletes (Delta deletion vectors / Iceberg v2 "
        "positional deletes): delete_keys_dv publishes per-file "
        "row-ordinal bitmaps — asserted in-query: the DV version "
        "carries the IDENTICAL file set (zero data files rewritten) — "
        "applied at read as a broadcast anti-join on (file, ordinal); "
        "a second overlapping delete unions bitmaps with exact "
        "counts; compact then materializes the DVs away (asserted: "
        "dv section gone) without changing answers; oracle is the "
        "plain double filter",
    tags=("writes", "format", "dv"),
)
def q_txlog_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders")
    facts = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_totalprice").alias("v"),
        F.max("o_orderdate").alias("ts"),
    )
    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_dv", sf_dir), fmt=fmt)
    wh.upsert_partitioned("facts", facts, ["k"], "ts", num_buckets=8)
    keys = facts.select("k")
    n5 = fmt.delete_keys_dv(
        wh, "facts", ["k"], keys.filter(F.col("k") % 5 == 0),
        num_buckets=8,
    )
    snap1 = fmt._snap_at(wh, "facts", 1)
    snap2 = fmt._snap_at(wh, "facts", 2)
    # the point of DVs: zero data files touched by the delete
    assert snap2["files"] == snap1["files"]
    assert n5 == sum(e["n"] for e in snap2["dv"].values())
    # overlapping second delete: bitmaps union, counts stay exact
    n11 = fmt.delete_keys_dv(
        wh, "facts", ["k"], keys.filter(F.col("k") % 11 == 0),
        num_buckets=8,
    )
    assert fmt.count_rows(wh, "facts") == fmt.count_rows(
        wh, "facts", version=1
    ) - n5 - n11
    # compaction materializes every DV away; answers must not move
    fmt.compact(wh, "facts", ["k"], num_buckets=8)
    assert not fmt._latest(wh, "facts").get("dv")
    return fmt.read_merged(wh, "facts").select("k", "v", "ts")


# ---------------------------------------------------------------------------
# Distributed change-feed backfill (VERDICT r7 Next #6): a
# many-version history (four quarterly merges + one DV delete) replayed
# through the BATCH face of format("txlog_changes") —
# partition-per-changed-bucket, executor-side manifest diff — for the
# net changes v1 -> latest. The oracle derives the same classification
# from the quarterly aggregates: per customer the LAST quarter wins
# (keep-newest by ts == by quarter, dates are time-ordered), DV victims
# delete, quarter-1 survivors with identical values stay silent.
# ---------------------------------------------------------------------------
_BF_CUTS = ("1996-07-01", "1998-01-01", "1999-07-01")

_TXLOG_BACKFILL_ORACLE = f"""
WITH q AS (
  SELECT o_custkey AS k,
         CASE
           WHEN o_orderdate < TIMESTAMP '{_BF_CUTS[0]}' THEN 1
           WHEN o_orderdate < TIMESTAMP '{_BF_CUTS[1]}' THEN 2
           WHEN o_orderdate < TIMESTAMP '{_BF_CUTS[2]}' THEN 3
           ELSE 4
         END AS qtr,
         MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders GROUP BY 1, 2
), b1 AS (
  SELECT k, v, ts FROM q WHERE qtr = 1
), fin AS (
  SELECT k, v, ts FROM (
    SELECT q.*, ROW_NUMBER() OVER (
      PARTITION BY k ORDER BY qtr DESC
    ) AS rn FROM q
  ) WHERE rn = 1 AND k % 13 <> 0
)
SELECT 'insert' AS _change_type, fin.k, fin.v, fin.ts
FROM fin LEFT JOIN b1 ON b1.k = fin.k WHERE b1.k IS NULL
UNION ALL
SELECT 'delete', b1.k, b1.v, b1.ts
FROM b1 LEFT JOIN fin ON fin.k = b1.k WHERE fin.k IS NULL
UNION ALL
SELECT 'update_preimage', b1.k, b1.v, b1.ts
FROM b1 JOIN fin ON b1.k = fin.k WHERE b1.v <> fin.v OR b1.ts <> fin.ts
UNION ALL
SELECT 'update_postimage', fin.k, fin.v, fin.ts
FROM b1 JOIN fin ON b1.k = fin.k WHERE b1.v <> fin.v OR b1.ts <> fin.ts
"""


@register(
    "txlog_changes_backfill",
    _TXLOG_BACKFILL_ORACLE,
    doc="distributed CDF backfill: format('txlog_changes') BATCH "
        "reader replays v1 -> latest of a five-version history (four "
        "quarterly keep-newest merges + one DV point delete) with one "
        "input partition per CHANGED bucket — executors run the "
        "per-bucket manifest diff, carried-by-reference buckets ship "
        "no partition, the driver never materializes rows (the "
        "documented scale path the SIMPLE stream reader defers to); "
        "oracle derives the same net classification from quarterly "
        "aggregates (last quarter wins == keep-newest by ts)",
    tags=("source", "format", "cdc"),
)
def q_txlog_changes_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_source import TxlogChangesDataSource

    orders = load_testdata(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max("o_totalprice").alias("v"),
            F.max("o_orderdate").alias("ts"),
        )

    cuts = [F.lit(c).cast("timestamp") for c in _BF_CUTS]
    d = F.col("o_orderdate")
    quarters = [
        orders.filter(d < cuts[0]),
        orders.filter((d >= cuts[0]) & (d < cuts[1])),
        orders.filter((d >= cuts[1]) & (d < cuts[2])),
        orders.filter(d >= cuts[2]),
    ]
    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_backfill", sf_dir), fmt=fmt)
    for qdf in quarters:
        wh.upsert_partitioned("facts", agg(qdf), ["k"], "ts",
                              num_buckets=8)
    victims = (
        orders.select(F.col("o_custkey").alias("k"))
        .dropDuplicates()
        .filter(F.col("k") % 13 == 0)
    )
    fmt.delete_keys_dv(wh, "facts", ["k"], victims, num_buckets=8)
    last = fmt.versions(wh, "facts")[-1]
    assert last == 5
    # set-and-leave (the txlog_datasource_scan convention): the frame
    # plans at driver-execution time, after this function returns
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TxlogChangesDataSource)
    return (
        spark.read.format("txlog_changes")
        .option("keys", "k")
        .option("v_from", "1")
        .option("v_to", str(last))
        .load(wh.path("facts"))
        .select("_change_type", "k", "v", "ts")
    )


# ---------------------------------------------------------------------------
# Type widening (Delta type-widening analog): the metric column starts
# INT, widens to BIGINT in a metadata-only commit (asserted in-query:
# identical file set), then a merge lands values that OVERFLOW int32 —
# the mixed int32/int64 physical files read back exactly under the
# wide schema (Spark's parquet reader upcasts losslessly at scan
# time), while version 1 time-travels under its own narrow type. The
# oracle replays both states semantically; values above 2^31 prove the
# widening is live, not cosmetic.
# ---------------------------------------------------------------------------
_TXLOG_WIDEN_ORACLE = f"""
WITH pre AS (
  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt,
         MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), post AS (
  SELECT o_custkey AS k,
         CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) * 100000
              AS BIGINT) AS cnt,
         MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate >= TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), cur AS (
  SELECT COALESCE(post.k, pre.k) AS k,
         COALESCE(post.cnt, pre.cnt) AS cnt,
         COALESCE(post.ts, pre.ts) AS ts
  FROM pre FULL OUTER JOIN post ON pre.k = post.k
)
SELECT 'v1' AS snapshot, k, cnt, ts FROM pre
UNION ALL
SELECT 'current' AS snapshot, k, cnt, ts FROM cur
"""


@register(
    "txlog_widen_evolution",
    _TXLOG_WIDEN_ORACLE,
    doc="type widening (Delta type-widening analog): widen_column "
        "publishes a metadata-only INT->BIGINT version — asserted "
        "in-query: identical file set — then a merge lands values "
        "beyond int32 range; mixed int32/int64 physical files read "
        "exactly under the wide schema via Spark's lossless parquet "
        "upcast, v1 time-travels under its own narrow type, and the "
        "manifest-recorded merge-key list (bucket contract) refuses "
        "key-column widening because xxhash64 buckets int32/int64 "
        "differently; oracle replays both states semantically",
    tags=("writes", "format", "evolution"),
)
def q_txlog_widen_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders")
    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    b1 = (
        orders.filter(F.col("o_orderdate") < cut)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("cnt"),
            F.max("o_orderdate").alias("ts"),
        )
    )
    b2 = (
        orders.filter(F.col("o_orderdate") >= cut)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(
            (F.max("o_totalprice").cast("decimal(18,2)") * 100000)
            .cast("long").alias("cnt"),
            F.max("o_orderdate").alias("ts"),
        )
    )
    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_widen", sf_dir), fmt=fmt)
    wh.upsert_partitioned("facts", b1, ["k"], "ts", num_buckets=8)
    files_v1 = fmt._latest(wh, "facts")["files"]
    fmt.widen_column(wh, "facts", "cnt", "long")
    assert fmt._latest(wh, "facts")["files"] == files_v1  # metadata-only
    wh.upsert_partitioned("facts", b2, ["k"], "ts", num_buckets=8)
    v1 = fmt.read_version(wh, "facts", 1)
    assert dict(v1.dtypes)["cnt"] == "int"  # history keeps narrow
    cur = fmt.read_merged(wh, "facts")
    assert dict(cur.dtypes)["cnt"] == "bigint"
    return (
        v1.select(
            F.lit("v1").alias("snapshot"), "k",
            F.col("cnt").cast("long").alias("cnt"), "ts",
        )
        .unionByName(
            cur.select(F.lit("current").alias("snapshot"), "k", "cnt", "ts")
        )
    )


# ---------------------------------------------------------------------------
# Exactly-once streaming MERGE sink (the Delta streaming-sink analog):
# foreachBatch merges each micro-batch into the transaction log with
# txn=(app, batch_id) — Spark's recovery contract REPLAYS a failed
# batch under the SAME id, so the sink must make replays no-ops, which
# the manifest's per-app last-applied-version record provides. The
# query streams the orders table in per-file micro-batches, merges
# each, then REPLAYS a batch id with poisoned GHOST rows: a green row
# proves the replay published nothing (no ghost survives) and the
# final table equals the plain projection. Keys are o_orderkey
# (globally unique), so the final state is batch-grouping-independent.
# ---------------------------------------------------------------------------
_TXLOG_SINK_ORACLE = """
SELECT o_orderkey AS k, o_totalprice AS v, o_orderdate AS ts
FROM orders WHERE o_orderkey % 3 = 0
"""


@register(
    "txlog_stream_merge_sink",
    _TXLOG_SINK_ORACLE,
    doc="exactly-once streaming MERGE sink: foreachBatch merges every "
        "micro-batch (maxFilesPerTrigger=1, availableNow) into the "
        "transaction log with txn=(app, batch_id) — the Delta "
        "txnAppId/txnVersion idempotence design — then a poisoned "
        "GHOST replay at an already-applied id proves replays publish "
        "NOTHING (asserted in-query: version count unchanged, zero "
        "ghost rows); oracle is the plain projection",
    tags=("streaming", "writes", "format"),
)
def q_txlog_stream_merge_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    scratch = _scratch("txlog_sink", sf_dir)
    in_dir = os.path.join(scratch, "in")
    orders = load_testdata(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("v"),
        F.col("o_orderdate").alias("ts"),
    )
    # land 4 files so the stream sees 4 micro-batches
    orders.repartition(4).write.mode("overwrite").parquet(in_dir)

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, scratch, fmt=fmt)

    def sink(batch_df, batch_id: int) -> None:
        wh.upsert_partitioned(
            "facts", batch_df, ["k"], "ts", num_buckets=8,
            txn=("sink", batch_id),
        )

    q = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = fmt._latest(wh, "facts")
    last_applied = snap["txns"]["sink"]
    versions_before = fmt.versions(wh, "facts")
    # the recovery scenario: a replayed batch id (poisoned so survival
    # would be visible) must publish NOTHING
    ghost = orders.limit(50).withColumn("v", F.lit(-1.0).cast("double"))
    sink(ghost, last_applied)
    assert fmt.versions(wh, "facts") == versions_before
    out = fmt.read_merged(wh, "facts")
    assert out.filter(F.col("v") < 0).count() == 0
    return out.filter(F.col("k") % 3 == 0).select("k", "v", "ts")


# ---------------------------------------------------------------------------
# Bucket-layout evolution: a table committed at num_buckets=4 outgrows
# its layout, rebucket(16) rewrites every row under the new modulus
# (asserted in-query: the manifest records 16, files spread past 4
# buckets, and the OLD modulus is afterwards refused), and merges
# continue under the new layout. The oracle is last-batch-wins
# keep-newest over the three quarterly batches — layout evolution
# changes WHERE rows live, never what they are.
# ---------------------------------------------------------------------------
_TXLOG_REBUCKET_ORACLE = f"""
WITH q AS (
  SELECT o_custkey AS k,
         CASE
           WHEN o_orderdate < TIMESTAMP '{_BF_CUTS[0]}' THEN 1
           WHEN o_orderdate < TIMESTAMP '{_BF_CUTS[1]}' THEN 2
           ELSE 3
         END AS qtr,
         MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders GROUP BY 1, 2
)
SELECT k, v, ts FROM (
  SELECT q.*, ROW_NUMBER() OVER (
    PARTITION BY k ORDER BY qtr DESC
  ) AS rn FROM q
) WHERE rn = 1
"""


@register(
    "txlog_rebucket_layout",
    _TXLOG_REBUCKET_ORACLE,
    doc="bucket-layout evolution (Iceberg partition-evolution analog): "
        "rebucket(16) rewrites a num_buckets=4 table under the new "
        "modulus — asserted in-query: manifest records 16, files "
        "spread past 4 buckets, the old modulus is refused afterwards "
        "(the recorded bucket contract), and a later merge lands under "
        "the new layout; oracle is last-batch-wins keep-newest over "
        "the three quarterly batches",
    tags=("writes", "format", "evolution"),
)
def q_txlog_rebucket_layout(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max("o_totalprice").alias("v"),
            F.max("o_orderdate").alias("ts"),
        )

    cuts = [F.lit(c).cast("timestamp") for c in _BF_CUTS[:2]]
    d = F.col("o_orderdate")
    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_rebucket", sf_dir), fmt=fmt)
    wh.upsert_partitioned(
        "facts", agg(orders.filter(d < cuts[0])), ["k"], "ts",
        num_buckets=4,
    )
    wh.upsert_partitioned(
        "facts", agg(orders.filter((d >= cuts[0]) & (d < cuts[1]))),
        ["k"], "ts", num_buckets=4,
    )
    fmt.rebucket(wh, "facts", 16)
    snap = fmt._latest(wh, "facts")
    assert snap["num_buckets"] == 16
    assert len(set(snap["files"].values())) > 4  # really re-laid-out
    try:  # the old modulus is now a refused contract violation
        wh.upsert_partitioned(
            "facts", agg(orders.filter(d >= cuts[1])).limit(1),
            ["k"], "ts", num_buckets=4,
        )
        raise AssertionError("old modulus accepted after rebucket")
    except ValueError:
        pass
    wh.upsert_partitioned(
        "facts", agg(orders.filter(d >= cuts[1])), ["k"], "ts",
        num_buckets=16,
    )
    return fmt.read_merged(wh, "facts").select("k", "v", "ts")


# ---------------------------------------------------------------------------
# Equi-depth Z-order under heavy-tailed data: a few synthetic outliers
# stretch the price range ~100000x, which collapses LINEAR min/max
# ranks (the dense region maps to one Morton code and box pruning on
# price dies — pinned against a linear-layout control in
# tests/test_io.py); quantile-bucket ranks keep every code ~equal row
# count, so the dense-region box still prunes (asserted in-query).
# The oracle is the plain two-range filter over the same derived
# column — rank layout changes FILES, never answers.
# ---------------------------------------------------------------------------
_EQZ_X = (
    "CASE WHEN o_orderkey % 5000 = 0 THEN o_totalprice * 100000 "
    "ELSE o_totalprice END"
)

_TXLOG_EQZ_ORACLE = f"""
SELECT o_orderkey AS k, {_EQZ_X} AS x, o_orderdate AS ts
FROM orders
WHERE ({_EQZ_X} BETWEEN 100000 AND 200000)
  AND o_orderdate BETWEEN TIMESTAMP '1994-01-01'
                      AND TIMESTAMP '1995-12-31 23:59:59'
"""


@register(
    "txlog_zorder_equidepth",
    _TXLOG_EQZ_ORACLE,
    doc="equi-depth Z-order clustering (quantile-bucket ranks — the "
        "Delta range_partition_id practice) on a heavy-tailed column "
        "whose outliers stretch the range ~100000x: linear min/max "
        "ranks collapse the dense region into one Morton code "
        "(control pinned in tests/test_io.py), equi-depth keeps the "
        "dense-region box prunable (asserted in-query: strictly fewer "
        "files than the snapshot on the skewed dimension AND on the "
        "box); oracle is the plain two-range filter",
    tags=("writes", "format", "pruning", "skew"),
)
def q_txlog_zorder_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:

    from ..formats import TransactionLogFormat
    from ..io import Warehouse

    orders = load_testdata(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(_EQZ_X.replace("o_orderkey", "o_orderkey")
               .replace("o_totalprice", "o_totalprice")).alias("x"),
        F.col("o_orderdate").alias("ts"),
    )
    n = orders.count()
    fmt = TransactionLogFormat(
        zorder_cols=["x", "ts"], zorder_equidepth=True,
        max_records_per_file=max(64, n // 32),
    )
    wh = Warehouse(spark, _scratch("txlog_eqz", sf_dir), fmt=fmt)
    wh.upsert_partitioned("facts", orders, ["k"], "ts", num_buckets=4)

    box = {
        "x": (100000.0, 200000.0),
        "ts": (
            dt.datetime(1994, 1, 1, 0, 0, 0),
            dt.datetime(1995, 12, 31, 23, 59, 59),
        ),
    }
    snap = fmt._latest(wh, "facts")
    total = len(snap["files"])
    # the skewed dimension prunes despite the 100000x outliers — the
    # property linear ranks lose — and the box only tightens
    keep_x = fmt.files_for_range(snap, "x", *box["x"])
    keep = fmt.files_for_box(snap, box)
    assert len(keep_x) < total, (len(keep_x), total)
    assert 0 < len(keep) <= len(keep_x)
    return fmt.read_for_box(wh, "facts", box).select("k", "x", "ts")


# ---------------------------------------------------------------------------
# SQL time-travel surface (VERDICT r8 Next #5): the transaction log
# spoken THROUGH spark.sql — "SELECT ... FROM facts VERSION AS OF 1"
# against a TxlogSqlCatalog registration, joined in the same statement
# with the latest snapshot view. Two commits (pre-cut aggregate, then a
# full keep-newest refresh) make version 1 and current genuinely
# different; the SQL returns per-key current-vs-v1 values for keys the
# refresh CHANGED, plus keys born after v1, all through plain SQL text.
# The oracle replays both states semantically from the raw parquet.
# The catalog is a documented text-level shim (Python DataSources can't
# register a JVM TableCatalog) over the SAME pushdown-capable
# format("txlog") scan — no second execution path.
# ---------------------------------------------------------------------------
_TXLOG_TT_SQL_ORACLE = f"""
WITH v1 AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), cur AS (
  -- the v2 refresh merges the ALL-rows aggregate with keep-newest
  -- order on ts; since the all-rows MAX dominates the pre-cut MAX
  -- per key, the merged state IS the all-rows aggregate
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders GROUP BY 1
)
SELECT cur.k AS k, cur.v AS v_now, v1.v AS v_at_v1,
       CASE WHEN v1.k IS NULL THEN 'born' ELSE 'changed' END AS kind
FROM cur LEFT JOIN v1 ON cur.k = v1.k
WHERE v1.k IS NULL OR cur.v <> v1.v OR cur.ts <> v1.ts
"""


@register(
    "txlog_time_travel_sql",
    _TXLOG_TT_SQL_ORACLE,
    doc="SQL time travel over the transaction log: TxlogSqlCatalog "
        "registers the table as a temp view and rewrites '<name> "
        "VERSION AS OF <n>' to pinned-version views over the SAME "
        "pushdown-capable format('txlog') scan, so one spark.sql "
        "statement joins the current snapshot against version 1 "
        "(Delta/Iceberg SELECT-with-time-travel analog); oracle "
        "replays both versions semantically",
    tags=("sql", "format", "time-travel", "source"),
)
def q_txlog_time_travel_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max("o_totalprice").alias("v"),
            F.max("o_orderdate").alias("ts"),
        )

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_tt_sql", sf_dir), fmt=fmt)
    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    # v1: pre-cut aggregate; v2: keep-newest refresh over ALL rows
    wh.upsert_partitioned(
        "facts", agg(orders.filter(F.col("o_orderdate") < cut)),
        ["k"], "ts", num_buckets=8,
    )
    wh.upsert_partitioned("facts", agg(orders), ["k"], "ts", num_buckets=8)

    cat = TxlogSqlCatalog(spark)
    cat.register("facts", wh.path("facts"))
    assert cat.versions("facts") == [1, 2]
    return cat.sql(
        """
        SELECT cur.k AS k, cur.v AS v_now, v1.v AS v_at_v1,
               CASE WHEN v1.k IS NULL THEN 'born'
                    ELSE 'changed' END AS kind
        FROM facts cur
        LEFT JOIN facts VERSION AS OF 1 v1 ON cur.k = v1.k
        WHERE v1.k IS NULL OR cur.v <> v1.v OR cur.ts <> v1.ts
        """
    )


# ---------------------------------------------------------------------------
# MERGE INTO through the SQL surface (round 9): the Delta simple-merge
# statement — WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
# INSERT * — parsed from SQL text, validated against the table's
# RECORDED key/bucket contract, and executed through the format's CAS
# merge machinery with SOURCE-WINS semantics. The fixture makes
# source-wins observable: the source is the PRE-CUT aggregate (older
# ts, lower v), merged into a target holding the all-rows aggregate —
# keep-newest would keep the target row; MERGE INTO must take the
# source's. The oracle replays source-wins as a full-outer coalesce.
# ---------------------------------------------------------------------------
_TXLOG_MI_ORACLE = f"""
WITH src AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), tgt AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders GROUP BY 1
)
SELECT COALESCE(s.k, t.k) AS k,
       COALESCE(s.v, t.v) AS v,
       COALESCE(s.ts, t.ts) AS ts
FROM tgt t FULL OUTER JOIN src s ON t.k = s.k
"""


@register(
    "txlog_merge_into_sql",
    _TXLOG_MI_ORACLE,
    doc="MERGE INTO via SQL text (Delta simple-merge form): restricted "
        "grammar parsed and validated against the table's recorded "
        "merge-key/bucket contract, executed as the format's "
        "transactional SOURCE-WINS merge (CAS publish, rebase/redo "
        "under concurrency) — the source's OLDER rows replace newer "
        "target rows, which keep-newest would not do; oracle replays "
        "source-wins as a full-outer coalesce",
    tags=("sql", "format", "writes", "merge"),
)
def q_txlog_merge_into_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max("o_totalprice").alias("v"),
            F.max("o_orderdate").alias("ts"),
        )

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_mi_sql", sf_dir), fmt=fmt)
    wh.upsert_partitioned("facts", agg(orders), ["k"], "ts", num_buckets=8)

    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    agg(orders.filter(F.col("o_orderdate") < cut)).createOrReplaceTempView(
        "txlog_mi_src"
    )
    cat = TxlogSqlCatalog(spark)
    cat.register("facts", wh.path("facts"))
    metrics = cat.sql(
        "MERGE INTO facts USING txlog_mi_src ON facts.k = txlog_mi_src.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert metrics.table_version == 2
    return cat.sql("SELECT k, v, ts FROM facts")


# ---------------------------------------------------------------------------
# UPDATE / DELETE through the SQL surface (round 10, VERDICT r9 Next
# #4): the two DML statements a real user writes right after MERGE
# INTO. Both are KEY-SCOPED by contract (the WHERE clause may
# reference only the table's recorded merge keys — refused loudly
# otherwise, mirroring the MERGE validation) and map onto the format's
# existing primitives: UPDATE = source-wins merge of the matched rows
# with the SET expressions applied against the OLD row values;
# DELETE = the deletion-vector MERGE-ON-READ path (zero data files
# rewritten). The oracles replay the statements as plain projections.
# ---------------------------------------------------------------------------
_TXLOG_UPD_ORACLE = """
WITH tgt AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders GROUP BY 1
)
SELECT k,
       CASE WHEN k % 7 = 3 THEN v * 2 ELSE v END AS v,
       CASE WHEN k % 7 = 3 THEN ts + INTERVAL 7 DAY ELSE ts END AS ts
FROM tgt
"""


@register(
    "txlog_update_sql",
    _TXLOG_UPD_ORACLE,
    doc="UPDATE via SQL text on the transaction log: key-scoped WHERE "
        "(non-key predicates refused — the storage contract names "
        "whole logical rows by key), SET expressions evaluated "
        "against the OLD row values in one pass, executed as the "
        "format's transactional source-wins merge of only the "
        "matched rows (touched buckets only at scale); oracle "
        "replays the statement as a CASE projection",
    tags=("sql", "format", "writes", "dml"),
)
def q_txlog_update_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")
    facts = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_totalprice").alias("v"),
        F.max("o_orderdate").alias("ts"),
    )
    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_upd_sql", sf_dir), fmt=fmt)
    wh.upsert_partitioned("facts", facts, ["k"], "ts", num_buckets=8)

    cat = TxlogSqlCatalog(spark)
    cat.register("facts", wh.path("facts"))
    metrics = cat.sql(
        "UPDATE facts SET v = v * 2, ts = ts + INTERVAL 7 DAY "
        "WHERE k % 7 = 3"
    ).first()
    assert metrics.table_version == 2 and metrics.num_affected_rows > 0
    return cat.sql("SELECT k, v, ts FROM facts")


_TXLOG_DEL_ORACLE = """
WITH tgt AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders GROUP BY 1
)
SELECT k, v, ts FROM tgt WHERE k % 5 <> 0
"""


@register(
    "txlog_delete_sql",
    _TXLOG_DEL_ORACLE,
    doc="DELETE via SQL text on the transaction log: key-scoped WHERE "
        "executed as the format's MERGE-ON-READ deletion-vector path "
        "— version N+1 carries every data file by reference and "
        "records victim (file, ordinal) bitmaps, so a targeted "
        "delete publishes ONE manifest and rewrites ZERO data files "
        "(the GDPR-erasure shape at 100 TB); oracle replays the "
        "statement as a filtered projection",
    tags=("sql", "format", "writes", "dml", "merge-on-read"),
)
def q_txlog_delete_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")
    facts = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_totalprice").alias("v"),
        F.max("o_orderdate").alias("ts"),
    )
    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_del_sql", sf_dir), fmt=fmt)
    wh.upsert_partitioned("facts", facts, ["k"], "ts", num_buckets=8)

    cat = TxlogSqlCatalog(spark)
    cat.register("facts", wh.path("facts"))
    metrics = cat.sql("DELETE FROM facts WHERE k % 5 = 0").first()
    assert metrics.table_version == 2 and metrics.num_affected_rows > 0
    # merge-on-read: the delete carried every data file by REFERENCE
    hist = {r.version: r for r in
            cat.sql("DESCRIBE HISTORY facts").collect()}
    assert hist[2].n_files == hist[1].n_files
    return cat.sql("SELECT k, v, ts FROM facts")


# ---------------------------------------------------------------------------
# Maintenance statements through the SQL surface (round 10): OPTIMIZE
# (small-file compaction — the Delta OPTIMIZE analog; rewrites only
# multi-file buckets, carries the rest by reference) followed by
# VACUUM ... KEEP 1 VERSIONS (retention: expire old manifests FIRST,
# then reclaim the files only they referenced). Both are layout/
# retention only — the table's ANSWERS never change, which is exactly
# what the oracle checks: after a merge history + OPTIMIZE + VACUUM,
# the content still equals the plain all-rows aggregate. Layout and
# retention effects are asserted in-query (files reduced, versions
# expired, expired version unreadable).
# ---------------------------------------------------------------------------
_TXLOG_MAINT_ORACLE = """
SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
FROM orders GROUP BY 1
"""


@register(
    "txlog_maintenance_sql",
    _TXLOG_MAINT_ORACLE,
    doc="OPTIMIZE + VACUUM via SQL text: small-file compaction "
        "(multi-file buckets rewritten, single-file buckets carried "
        "by reference — cost proportional to the small-file debt, "
        "not the table) then retention (KEEP 1 VERSIONS expires old "
        "manifests before reclaiming their files, so a crash never "
        "strands a live manifest); files-reduced, versions-expired, "
        "and expired-version-unreadable all asserted in-query; "
        "oracle = the all-rows aggregate (layout/retention must "
        "never change answers)",
    tags=("sql", "format", "maintenance", "compaction", "retention"),
)
def q_txlog_maintenance_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max("o_totalprice").alias("v"),
            F.max("o_orderdate").alias("ts"),
        )

    # split files so the merges leave ~2 files per bucket at ANY SF
    # (a fixed threshold leaves 1 file/bucket at sf0.001, where the
    # last merge's rewrite fits each bucket in one file and OPTIMIZE
    # would correctly find nothing to do)
    n_keys = orders.select("o_custkey").dropDuplicates().count()
    fmt = TransactionLogFormat(
        max_records_per_file=max(1, n_keys // 16)
    )
    wh = Warehouse(spark, _scratch("txlog_maint_sql", sf_dir), fmt=fmt)
    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    wh.upsert_partitioned(
        "facts", agg(orders.filter(F.col("o_orderdate") < cut)),
        ["k"], "ts", num_buckets=8,
    )
    wh.upsert_partitioned("facts", agg(orders), ["k"], "ts", num_buckets=8)

    cat = TxlogSqlCatalog(spark)
    cat.register("facts", wh.path("facts"))
    m = cat.sql("OPTIMIZE facts").first()
    assert m.files_after < m.files_before and m.table_version == 3
    m = cat.sql("VACUUM facts RETAIN 0 HOURS KEEP 1 VERSIONS").first()
    assert m.num_expired_versions == 2 and m.num_deleted_files > 0
    assert cat.versions("facts") == [3]
    try:  # retention enforced: the expired version is gone
        cat.sql("SELECT * FROM facts VERSION AS OF 1")
        raise AssertionError("expired version still readable")
    except FileNotFoundError:
        pass
    return cat.sql("SELECT k, v, ts FROM facts")


# ---------------------------------------------------------------------------
# INSERT INTO + RESTORE through the SQL surface (round 10): the two
# statements that finish the DML/maintenance square. INSERT appends
# through the format's transactional merge with the KEY-UNIQUE
# contract enforced up front (a colliding key is refused loudly —
# checked in-query — via the bucket-scoped read_for_keys probe, never
# a full-table anti-join). RESTORE is the control-plane rollback: the
# new version copies the target manifest by reference, so it publishes
# one manifest and writes zero data files (asserted by on-disk parquet
# census), while the rolled-back version stays time-travel-able.
# ---------------------------------------------------------------------------
_TXLOG_INS_ORACLE = f"""
WITH pre AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders WHERE o_orderdate < TIMESTAMP '{_TXLOG_CUT}' GROUP BY 1
), allrows AS (
  SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
  FROM orders GROUP BY 1
)
SELECT k, v, ts FROM pre
UNION ALL
SELECT a.k, a.v, a.ts FROM allrows a
WHERE a.k NOT IN (SELECT k FROM pre)
UNION ALL
SELECT -1 AS k, 0.5 AS v, TIMESTAMP '2099-01-01' AS ts
"""


@register(
    "txlog_insert_into_sql",
    _TXLOG_INS_ORACLE,
    doc="INSERT INTO via SQL text on the transaction log: VALUES and "
        "SELECT sources (the SELECT tail may itself time travel), "
        "column-list/positional mapping with type casts, and the "
        "key-unique contract enforced BEFORE the merge — the "
        "existence probe reads only the buckets the new keys hash to "
        "(manifest-indexed, bloom-pruned), so a colliding INSERT is "
        "refused loudly at any table size without a full-table "
        "anti-join (asserted in-query); oracle replays the two "
        "inserts as UNION ALL over the base projection",
    tags=("sql", "format", "writes", "dml"),
)
def q_txlog_insert_into_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max("o_totalprice").alias("v"),
            F.max("o_orderdate").alias("ts"),
        )

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_ins_sql", sf_dir), fmt=fmt)
    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    pre = agg(orders.filter(F.col("o_orderdate") < cut))
    wh.upsert_partitioned("facts", pre, ["k"], "ts", num_buckets=8)

    # keys with NO pre-cut orders: the only custkeys absent from v1
    agg(orders).join(pre.select("k"), "k", "left_anti").createOrReplaceTempView(
        "txlog_ins_src"
    )
    cat = TxlogSqlCatalog(spark)
    cat.register("facts", wh.path("facts"))
    m = cat.sql(
        "INSERT INTO facts SELECT k, v, ts FROM txlog_ins_src"
    ).first()
    assert m.num_inserted_rows > 0 and m.table_version == 2
    m = cat.sql(
        "INSERT INTO facts VALUES "
        "(-1, 0.5, TIMESTAMP '2099-01-01')"
    ).first()
    assert m.num_inserted_rows == 1 and m.table_version == 3
    try:  # key-unique contract: re-inserting an existing key refuses
        cat.sql("INSERT INTO facts VALUES (-1, 9.9, TIMESTAMP '2099-01-02')")
        raise AssertionError("duplicate-key INSERT not refused")
    except ValueError:
        pass
    return cat.sql("SELECT k, v, ts FROM facts")


_TXLOG_RESTORE_ORACLE = """
SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
FROM orders GROUP BY 1
"""


@register(
    "txlog_restore_sql",
    _TXLOG_RESTORE_ORACLE,
    doc="RESTORE TABLE via SQL text: rollback as a FORWARD commit "
        "(Delta RESTORE design) — the new version copies the target "
        "manifest by reference, publishing one manifest and writing "
        "ZERO data files (asserted by on-disk parquet census), while "
        "the rolled-back delete stays time-travel-able as history; "
        "after DELETE then RESTORE, the table's latest answer equals "
        "the pre-delete state = the plain all-rows aggregate (the "
        "oracle)",
    tags=("sql", "format", "time-travel", "maintenance"),
)
def q_txlog_restore_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pathlib import Path

    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")

    def agg(df):
        return df.groupBy(F.col("o_custkey").alias("k")).agg(
            F.max("o_totalprice").alias("v"),
            F.max("o_orderdate").alias("ts"),
        )

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_restore_sql", sf_dir), fmt=fmt)
    cut = F.lit(_TXLOG_CUT).cast("timestamp")
    wh.upsert_partitioned(
        "facts", agg(orders.filter(F.col("o_orderdate") < cut)),
        ["k"], "ts", num_buckets=8,
    )
    wh.upsert_partitioned("facts", agg(orders), ["k"], "ts", num_buckets=8)

    cat = TxlogSqlCatalog(spark)
    cat.register("facts", wh.path("facts"))
    m = cat.sql("DELETE FROM facts WHERE k % 5 = 0").first()
    assert m.table_version == 3 and m.num_affected_rows > 0

    census = len(list(Path(wh.path("facts")).rglob("*.parquet")))
    m = cat.sql("RESTORE TABLE facts TO VERSION AS OF 2").first()
    assert m.restored_source_version == 2 and m.table_version == 4
    # control-plane only: not one data file written by the restore
    assert len(list(Path(wh.path("facts")).rglob("*.parquet"))) == census
    # the rolled-back version is history, not erased
    n3 = cat.sql("SELECT count(*) AS n FROM facts VERSION AS OF 3").first().n
    n4 = cat.sql("SELECT count(*) AS n FROM facts").first().n
    assert n3 < n4
    return cat.sql("SELECT k, v, ts FROM facts")


_TXLOG_CTAS_ORACLE = """
SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
FROM orders GROUP BY 1
UNION ALL
SELECT -1 AS k, 0.5 AS v, TIMESTAMP '2099-01-01' AS ts
"""


@register(
    "txlog_ctas_sql",
    _TXLOG_CTAS_ORACLE,
    doc="CREATE TABLE AS SELECT via SQL text: the CLUSTERED BY clause "
        "(Spark's own bucketing spelling) declares the merge-key/"
        "bucket contract version 1 records, the AS query supplies "
        "schema AND data through the format's transactional merge "
        "with the same key-unique enforcement as INSERT; the created "
        "table immediately serves DML (one INSERT here) and "
        "introspection (DESCRIBE DETAIL's manifest-only live-row "
        "count asserted against the content in-query); r11 adds the "
        "CREATE OR REPLACE leg — a FORWARD commit over the same log "
        "whose AS query reads the pre-replace snapshot and whose "
        "pre-replace versions stay time-travel-able (asserted "
        "in-query) — then restores the filtered row so the oracle is "
        "unchanged; oracle = the aggregate UNION ALL the inserted row",
    tags=("sql", "format", "ddl", "writes"),
)
def q_txlog_ctas_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")
    orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_totalprice").alias("v"),
        F.max("o_orderdate").alias("ts"),
    ).createOrReplaceTempView("txlog_ctas_src")

    loc = os.path.join(_scratch("txlog_ctas_sql", sf_dir), "facts")
    cat = TxlogSqlCatalog(spark)
    m = cat.sql(
        f"CREATE TABLE facts_ctas USING txlog CLUSTERED BY (k) "
        f"INTO 8 BUCKETS LOCATION '{loc}' "
        f"AS SELECT k, v, ts FROM txlog_ctas_src"
    ).first()
    assert m.created and m.num_rows > 0 and m.table_version == 2
    m = cat.sql(
        "INSERT INTO facts_ctas VALUES (-1, 0.5, TIMESTAMP '2099-01-01')"
    ).first()
    assert m.num_inserted_rows == 1 and m.table_version == 3
    # control-plane live-row count == actual content (manifest-only)
    d = cat.sql("DESCRIBE DETAIL facts_ctas").first()
    assert d.keys == ["k"] and d.num_buckets == 8
    n = cat.sql("SELECT count(*) AS n FROM facts_ctas").first().n
    assert d.num_rows == n
    # CREATE OR REPLACE is a FORWARD commit (r11, ADVICE r10): the new
    # contract AND data land as ONE v4 over the SAME log — the AS
    # query reads the PRE-replace snapshot (files are written before
    # the replacement publishes), and pre-replace history stays
    # time-travel-able across the boundary
    m = cat.sql(
        f"CREATE OR REPLACE TABLE facts_ctas USING txlog "
        f"CLUSTERED BY (k) INTO 4 BUCKETS LOCATION '{loc}' "
        f"AS SELECT k, v, ts FROM facts_ctas WHERE k >= 0"
    ).first()
    assert m.created and m.table_version == 4 and m.num_rows == n - 1
    assert (
        cat.sql(
            "SELECT count(*) AS n FROM facts_ctas VERSION AS OF 3"
        ).first().n
        == n
    )
    d = cat.sql("DESCRIBE DETAIL facts_ctas").first()
    assert d.num_buckets == 4 and d.num_rows == n - 1
    # re-insert the row the replacement filtered out: the final
    # content equals the pre-replace table, so the oracle is unchanged
    m = cat.sql(
        "INSERT INTO facts_ctas VALUES (-1, 0.5, TIMESTAMP '2099-01-01')"
    ).first()
    assert m.num_inserted_rows == 1 and m.table_version == 5
    return cat.sql("SELECT k, v, ts FROM facts_ctas")


_TXLOG_ALTER_ORACLE = """
SELECT o_custkey AS k,
       MAX(o_totalprice) AS price,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CASE WHEN o_custkey % 2 = 0
            THEN CASE WHEN MAX(o_totalprice) > 300000
                      THEN 'high' ELSE 'low' END
            ELSE NULL END AS tier
FROM orders GROUP BY 1
"""


@register(
    "txlog_alter_sql",
    _TXLOG_ALTER_ORACLE,
    doc="ALTER TABLE via SQL text — the full metadata-only evolution "
        "lifecycle on one table: RENAME COLUMN (column-mapping "
        "indirection; old files carried by reference), ADD COLUMN "
        "(old rows read back NULL; the next DML carries the evolved "
        "shape), ALTER COLUMN TYPE (safe-lattice int->bigint "
        "widening), then a key-scoped UPDATE filling the added "
        "column — each schema change ONE manifest publish at any "
        "table size; oracle replays the lifecycle as a single "
        "projection with a CASE for the partially-filled column",
    tags=("sql", "format", "ddl", "evolution"),
)
def q_txlog_alter_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..formats import TransactionLogFormat
    from ..io import Warehouse
    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")
    facts = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_totalprice").alias("v"),
        F.count(F.lit(1)).cast("int").alias("cnt"),
    )
    fmt = TransactionLogFormat()
    wh = Warehouse(spark, _scratch("txlog_alter_sql", sf_dir), fmt=fmt)
    wh.upsert_partitioned("facts", facts, ["k"], "v", num_buckets=8)

    cat = TxlogSqlCatalog(spark)
    cat.register("facts", wh.path("facts"))
    m = cat.sql("ALTER TABLE facts RENAME COLUMN v TO price").first()
    assert m.table_version == 2
    m = cat.sql("ALTER TABLE facts ADD COLUMN tier STRING").first()
    assert m.table_version == 3
    m = cat.sql("ALTER TABLE facts ALTER COLUMN cnt TYPE BIGINT").first()
    assert m.table_version == 4
    # key-scoped DML fills the added column under the evolved schema
    m = cat.sql(
        "UPDATE facts SET tier = CASE WHEN price > 300000 "
        "THEN 'high' ELSE 'low' END WHERE k % 2 = 0"
    ).first()
    assert m.num_affected_rows > 0 and m.table_version == 5
    # history: version 1 still answers under its own (pre-rename) shape
    v1_cols = cat.sql("SELECT * FROM facts VERSION AS OF 1").columns
    assert "v" in v1_cols and "price" not in v1_cols
    return cat.sql("SELECT k, price, cnt, tier FROM facts")


_TXLOG_NOTNULL_ORACLE = """
SELECT o_custkey AS k, MAX(o_totalprice) AS v,
       CASE WHEN MAX(o_totalprice) > 200000 THEN 'high' ELSE 'low' END AS tag
FROM orders GROUP BY 1
UNION ALL
SELECT -1 AS k, 0.5 AS v, 'x' AS tag
UNION ALL
SELECT -2 AS k, -0.5 AS v, NULL AS tag
"""


@register(
    "txlog_notnull_sql",
    _TXLOG_NOTNULL_ORACLE,
    doc="ALTER COLUMN SET/DROP NOT NULL via SQL text (r13, VERDICT "
        "r12 #5) — the VALIDATED promote completing the legal path "
        "the NOT-NULL-ADD refusal points at: add nullable, backfill, "
        "promote. Promote over surviving NULLs is refused (asserted "
        "in-query — one existing-rows scan, the ADD CONSTRAINT cost); "
        "after promote a NULL-bearing INSERT is refused (enforcement "
        "rides the same one-pass constraint validator as implicit "
        "entries, and the published write schema carries the "
        "snapshot's flags so a later merge cannot demote the "
        "promote); DROP NOT NULL releases with no scan; oracle "
        "replays the lifecycle as the backfilled aggregate UNION the "
        "two admitted rows",
    tags=("sql", "format", "ddl", "constraints"),
)
def q_txlog_notnull_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")
    orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_totalprice").alias("v"),
    ).createOrReplaceTempView("txlog_nn_src")

    loc = os.path.join(_scratch("txlog_nn_sql", sf_dir), "facts")
    cat = TxlogSqlCatalog(spark)
    cat.sql(
        f"CREATE TABLE facts_nn USING txlog CLUSTERED BY (k) "
        f"INTO 8 BUCKETS LOCATION '{loc}' "
        f"AS SELECT k, v FROM txlog_nn_src"
    )
    m = cat.sql("ALTER TABLE facts_nn ADD COLUMN tag STRING").first()
    assert m.table_version == 3  # CTAS = create + data commit
    # promote over all-NULL rows is refused, nothing committed
    try:
        cat.sql("ALTER TABLE facts_nn ALTER COLUMN tag SET NOT NULL")
        raise AssertionError("promote over NULL rows not refused")
    except ValueError as e:
        assert "backfill first" in str(e)
    # backfill, then the validated promote (one scan, one manifest)
    cat.sql(
        "UPDATE facts_nn SET tag = CASE WHEN v > 200000 THEN 'high' "
        "ELSE 'low' END WHERE k % 1 = 0"
    )
    m = cat.sql(
        "ALTER TABLE facts_nn ALTER COLUMN tag SET NOT NULL"
    ).first()
    assert m.operation == "set not null tag" and m.table_version == 5
    # enforcement: a NULL-bearing INSERT is refused loudly
    try:
        cat.sql("INSERT INTO facts_nn VALUES "
                "(-1, CAST(0.5 AS DOUBLE), NULL)")
        raise AssertionError("NULL-bearing INSERT not refused")
    except ValueError as e:
        assert "NOT NULL" in str(e)
    # a compliant row is admitted — and the merge does NOT demote the
    # promote (incoming DataFrame schemas are nullable-typed)
    m = cat.sql("INSERT INTO facts_nn VALUES "
                "(-1, CAST(0.5 AS DOUBLE), 'x')").first()
    assert m.num_inserted_rows == 1
    # DROP NOT NULL releases the invariant with no scan
    m = cat.sql(
        "ALTER TABLE facts_nn ALTER COLUMN tag DROP NOT NULL"
    ).first()
    assert m.operation == "drop not null tag"
    m = cat.sql("INSERT INTO facts_nn VALUES "
                "(-2, CAST(-0.5 AS DOUBLE), NULL)").first()
    assert m.num_inserted_rows == 1
    return cat.sql("SELECT k, v, tag FROM facts_nn")


_TXLOG_CONSTRAINTS_ORACLE = """
SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
FROM orders GROUP BY 1
UNION ALL
SELECT -1 AS k, 0.5 AS v, TIMESTAMP '2099-01-01' AS ts
UNION ALL
SELECT -2 AS k, -0.5 AS v, TIMESTAMP '2099-01-02' AS ts
"""


@register(
    "txlog_constraints_sql",
    _TXLOG_CONSTRAINTS_ORACLE,
    doc="CHECK constraints via SQL text: ADD CONSTRAINT validates the "
        "expression against the schema AND every existing row (one "
        "validation scan — the Delta ADD CONSTRAINT cost), then every "
        "catalog write statement (INSERT / UPDATE / MERGE INTO) "
        "validates ITS rows against the recorded set — violating "
        "statements refused loudly (asserted in-query), per-statement "
        "cost one filter-count over the batch, never the table; "
        "DROP CONSTRAINT releases the policy; oracle = the aggregate "
        "UNION the row admitted under the constraint UNION the row "
        "admitted after the drop",
    tags=("sql", "format", "ddl", "constraints"),
)
def q_txlog_constraints_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")
    orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_totalprice").alias("v"),
        F.max("o_orderdate").alias("ts"),
    ).createOrReplaceTempView("txlog_cons_src")

    loc = os.path.join(_scratch("txlog_cons_sql", sf_dir), "facts")
    cat = TxlogSqlCatalog(spark)
    cat.sql(
        f"CREATE TABLE facts_cons USING txlog CLUSTERED BY (k) "
        f"INTO 8 BUCKETS LOCATION '{loc}' "
        f"AS SELECT k, v, ts FROM txlog_cons_src"
    )
    m = cat.sql(
        "ALTER TABLE facts_cons ADD CONSTRAINT v_pos CHECK (v > 0)"
    ).first()
    assert m.num_constraints == 1
    # admitted under the constraint
    m = cat.sql(
        "INSERT INTO facts_cons VALUES (-1, 0.5, TIMESTAMP '2099-01-01')"
    ).first()
    assert m.num_inserted_rows == 1
    # violating INSERT and UPDATE are refused (nothing committed)
    try:
        cat.sql("INSERT INTO facts_cons VALUES "
                "(-2, -0.5, TIMESTAMP '2099-01-02')")
        raise AssertionError("constraint-violating INSERT not refused")
    except ValueError:
        pass
    try:
        cat.sql("UPDATE facts_cons SET v = -1 WHERE k = -1")
        raise AssertionError("constraint-violating UPDATE not refused")
    except ValueError:
        pass
    # DROP releases the policy; the same row is now admissible
    cat.sql("ALTER TABLE facts_cons DROP CONSTRAINT v_pos")
    m = cat.sql(
        "INSERT INTO facts_cons VALUES (-2, -0.5, TIMESTAMP '2099-01-02')"
    ).first()
    assert m.num_inserted_rows == 1
    return cat.sql("SELECT k, v, ts FROM facts_cons")


_TXLOG_OVERWRITE_ORACLE = """
SELECT o_custkey AS k, MAX(o_totalprice) AS v
FROM orders GROUP BY 1
"""


@register(
    "txlog_overwrite_sql",
    _TXLOG_OVERWRITE_ORACLE,
    doc="INSERT OVERWRITE + TRUNCATE TABLE via SQL text (round 11): "
        "both land as ONE forward commit under the UNCHANGED recorded "
        "contract. The overwrite writes its files BEFORE publishing, "
        "so a SELF-REFERENCING source (the thirds-slice rewrite here) "
        "reads the pre-overwrite table instead of silently emptying "
        "it; TRUNCATE publishes an empty file set touching zero data "
        "files; every prior version stays time-travel-able (counts "
        "asserted in-query at three versions). The final overwrite "
        "restores the full aggregate, so oracle = the plain aggregate "
        "— MAX over doubles is exact across engines",
    tags=("sql", "format", "writes"),
)
def q_txlog_overwrite_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")
    orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_totalprice").alias("v"),
    ).createOrReplaceTempView("txlog_ow_src")

    loc = os.path.join(_scratch("txlog_overwrite_sql", sf_dir), "facts")
    cat = TxlogSqlCatalog(spark)
    m = cat.sql(
        f"CREATE TABLE facts_ow USING txlog CLUSTERED BY (k) "
        f"INTO 8 BUCKETS LOCATION '{loc}' "
        f"AS SELECT k, v FROM txlog_ow_src"
    ).first()
    n_all = m.num_rows
    assert m.created and n_all > 0 and m.table_version == 2
    # self-referencing overwrite: keep every third customer, double v
    m = cat.sql(
        "INSERT OVERWRITE facts_ow "
        "SELECT k, v * 2 AS v FROM facts_ow WHERE k % 3 = 0"
    ).first()
    n_third = m.num_overwritten_rows
    assert 0 < n_third < n_all and m.table_version == 3
    assert (
        cat.sql("SELECT count(*) AS n FROM facts_ow").first().n
        == n_third
    )
    # TRUNCATE: empty forward commit, zero files touched
    m = cat.sql("TRUNCATE TABLE facts_ow").first()
    assert m.num_removed_rows == n_third and m.table_version == 4
    assert cat.sql("SELECT count(*) AS n FROM facts_ow").first().n == 0
    # every prior version still serves across both boundaries
    assert (
        cat.sql(
            "SELECT count(*) AS n FROM facts_ow VERSION AS OF 2"
        ).first().n
        == n_all
    )
    assert (
        cat.sql(
            "SELECT count(*) AS n FROM facts_ow VERSION AS OF 3"
        ).first().n
        == n_third
    )
    # final overwrite restores the full aggregate (oracle shape)
    m = cat.sql(
        "INSERT OVERWRITE facts_ow SELECT k, v FROM txlog_ow_src"
    ).first()
    assert m.num_overwritten_rows == n_all and m.table_version == 5
    return cat.sql("SELECT k, v FROM facts_ow")


_TXLOG_REPLACE_WHERE_ORACLE = """
WITH agg AS (
    SELECT o_custkey AS k, MAX(o_totalprice) AS v
    FROM orders GROUP BY o_custkey
),
thr AS (
    SELECT MAX(k) AS t FROM (SELECT k FROM agg ORDER BY k LIMIT 3)
)
SELECT
    k,
    v * (CASE WHEN k <= (SELECT t FROM thr) THEN 2 ELSE 1 END) AS v
FROM agg
"""


@register(
    "txlog_replace_where_sql",
    _TXLOG_REPLACE_WHERE_ORACLE,
    doc="Predicate-scoped INSERT OVERWRITE ... WHERE via SQL text "
        "(round 12, Delta replaceWhere parity): exactly the rows "
        "matching the predicate are replaced by the (self-referencing, "
        "pinned-snapshot) source as ONE commit; every incoming row "
        "must satisfy the predicate and an incoming key on a "
        "NON-matching row is refused (both asserted in-query); "
        "non-matching BUCKETS' files are carried by reference "
        "(file-overlap asserted — the touched-fraction scale story: "
        "the predicate selects the 3 smallest keys, so at most 3 of 8 "
        "buckets rewrite); history time-travels across the rewrite. "
        "The tiny slice's v doubles (exact over doubles), so oracle = "
        "the aggregate with a threshold-conditional factor",
    tags=("sql", "format", "writes"),
)
def q_txlog_replace_where_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os

    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")
    orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_totalprice").alias("v"),
    ).createOrReplaceTempView("txlog_rw_src")

    loc = os.path.join(_scratch("txlog_replace_where_sql", sf_dir), "facts")
    cat = TxlogSqlCatalog(spark)
    m = cat.sql(
        f"CREATE TABLE facts_rw USING txlog CLUSTERED BY (k) "
        f"INTO 8 BUCKETS LOCATION '{loc}' "
        f"AS SELECT k, v FROM txlog_rw_src"
    ).first()
    n_all = m.num_rows
    assert m.created and n_all > 0 and m.table_version == 2

    def files_of(v: int) -> set:
        with open(
            os.path.join(loc, "_txlog", f"{v:08d}.json")
        ) as f:
            return set(_json.load(f)["files"])

    # scoped, self-referencing rewrite: double v on the 3 smallest
    # keys only — a handful of keys hash to a handful of buckets, so
    # the rewrite is genuinely scoped (carried files asserted below)
    thr = (
        cat.sql("SELECT k FROM facts_rw ORDER BY k LIMIT 3")
        .collect()[-1].k
    )
    m = cat.sql(
        f"INSERT OVERWRITE facts_rw WHERE k <= {thr} "
        f"SELECT k, v * 2 AS v FROM facts_rw WHERE k <= {thr}"
    ).first()
    assert m.num_replaced_rows == m.num_inserted_rows == 3
    assert m.table_version == 3
    # refusals: a row outside the predicate; a key on a non-matching row
    try:
        cat.sql(f"INSERT OVERWRITE facts_rw WHERE k <= {thr} "
                f"VALUES (CAST(999999999 AS BIGINT), CAST(1 AS DOUBLE))")
        raise AssertionError("outside-predicate row not refused")
    except ValueError:
        pass
    # an incoming key whose EXISTING row does not match the predicate
    # (possible only with a non-key predicate: v is positive on every
    # stored row, the incoming twin claims v < 0) is refused under the
    # key-unique contract
    k0 = cat.sql("SELECT k FROM facts_rw ORDER BY k LIMIT 1").first().k
    try:
        cat.sql(f"INSERT OVERWRITE facts_rw WHERE v < 0 "
                f"VALUES (CAST({k0} AS BIGINT), CAST(-1 AS DOUBLE))")
        raise AssertionError("key clash on non-matching row not refused")
    except ValueError:
        pass
    # the even slice's files are CARRIED by reference across the
    # rewrite — the scoped overwrite reads/writes O(matching buckets)
    assert files_of(2) & files_of(3), "no carried files: full rewrite"
    # pre-rewrite version intact
    assert (
        cat.sql(
            "SELECT count(*) AS n FROM facts_rw VERSION AS OF 2"
        ).first().n
        == n_all
    )
    return cat.sql("SELECT k, v FROM facts_rw")


_TXLOG_CONVERT_ORACLE = """
SELECT o_custkey AS k, MAX(o_totalprice) AS v, MAX(o_orderdate) AS ts
FROM orders GROUP BY 1
UNION ALL
SELECT -1 AS k, 0.5 AS v, TIMESTAMP '2099-01-01' AS ts
"""


@register(
    "txlog_convert_sql",
    _TXLOG_CONVERT_ORACLE,
    doc="CONVERT TO TXLOG via SQL text (the Delta CONVERT TO DELTA "
        "shape): adopt a flat parquet directory IN PLACE — zero bytes "
        "rewritten (on-disk census asserted), per-file row counts and "
        "zone maps harvested from one footer read each, key-unique "
        "contract validated up front, 1-bucket contract recorded so "
        "the first merge migrates the layout through the ordinary "
        "machinery (an INSERT here proves the write path end-to-end); "
        "time travel to v1 keeps reading the original files; oracle = "
        "the adopted aggregate UNION the inserted row",
    tags=("sql", "format", "ddl", "migration"),
)
def q_txlog_convert_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob
    import os

    from ..sources.txlog_catalog import TxlogSqlCatalog

    orders = load_testdata(spark, sf_dir, "orders")
    loc = os.path.join(_scratch("txlog_convert_sql", sf_dir), "plain")
    # a FOREIGN flat parquet landing (not format-written)
    orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.max("o_totalprice").alias("v"),
        F.max("o_orderdate").alias("ts"),
    ).repartition(4).write.parquet(loc)
    census = len(glob.glob(os.path.join(loc, "*.parquet")))

    cat = TxlogSqlCatalog(spark)
    m = cat.sql(
        f"CONVERT TO TXLOG facts_conv LOCATION '{loc}' CLUSTERED BY (k)"
    ).first()
    assert m.table_version == 1 and m.num_files == census
    # adoption rewrote nothing
    assert len(glob.glob(os.path.join(loc, "*.parquet"))) == census
    # the write surface works immediately (first merge migrates)
    m = cat.sql(
        "INSERT INTO facts_conv VALUES (-1, 0.5, TIMESTAMP '2099-01-01')"
    ).first()
    assert m.num_inserted_rows == 1 and m.table_version == 2
    # v1 still reads the adopted files
    n1 = cat.sql(
        "SELECT count(*) AS n FROM facts_conv VERSION AS OF 1"
    ).first().n
    n2 = cat.sql("SELECT count(*) AS n FROM facts_conv").first().n
    assert n2 == n1 + 1
    return cat.sql("SELECT k, v, ts FROM facts_conv")

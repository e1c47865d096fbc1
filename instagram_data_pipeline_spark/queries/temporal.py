"""Temporal join queries: as-of join and range join (SURVEY §2.12 /
task north star — operators Spark lacks as built-ins).

The as-of oracle uses DuckDB's NATIVE ``ASOF JOIN`` — the strongest
possible cross-check, since the Spark side is a completely different
plan (union + window carry-forward) arriving at the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_testdata
from ..operators.asof import asof_join, range_bucket_join
from . import register

# 1 hour in microseconds — the attribution window
_TOL_US = 3_600_000_000


@register(
    "asof_attribution",
    f"""
WITH purchases AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
), clicks AS (
  -- unique (user, ts): several clicks in the same microsecond collapse
  -- to the max event_id so both engines pick the same row
  SELECT user_id, ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), j AS (
  SELECT p.user_id, p.event_id, epoch_us(p.ts) AS ts_us,
         epoch_us(c.ts) AS c_ts_us, c.click_id AS c_click_id
  FROM purchases p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT user_id, event_id, ts_us,
       CASE WHEN ts_us - c_ts_us <= {_TOL_US} THEN c_ts_us END AS click_ts_us,
       CASE WHEN ts_us - c_ts_us <= {_TOL_US} THEN c_click_id END AS click_id
FROM j
""",
    doc="as-of join (click->purchase attribution, 1h tolerance): Spark "
        "union+window carry-forward vs DuckDB native ASOF JOIN — one "
        "shuffle on the key, no range explosion",
    tags=("temporal", "asof", "join"),
)
def q_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_testdata(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        tolerance_us=_TOL_US,
        right_cols=["click_id"],
    )
    return joined.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("ts_r").alias("click_ts_us"),
        F.col("click_id_r").alias("click_id"),
    )


@register(
    "asof_forward_attribution",
    f"""
WITH clicks AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
), purchases AS (
  -- unique (user, ts): same-microsecond purchases collapse to max id so
  -- both engines pick the same row
  SELECT user_id, ts, MAX(event_id) AS purchase_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
), j AS (
  SELECT c.user_id, c.event_id, epoch_us(c.ts) AS ts_us,
         epoch_us(p.ts) AS p_ts_us, p.purchase_id AS p_pid
  FROM clicks c ASOF LEFT JOIN purchases p
    ON c.user_id = p.user_id AND c.ts <= p.ts
)
SELECT user_id, event_id, ts_us,
       CASE WHEN p_ts_us - ts_us <= {_TOL_US} THEN p_ts_us END
         AS purchase_ts_us,
       CASE WHEN p_ts_us - ts_us <= {_TOL_US} THEN p_pid END
         AS purchase_id
FROM j
""",
    doc="FORWARD as-of join (click -> next purchase within 1h: "
        "time-to-convert): same one-shuffle union+window plan as the "
        "backward form with a descending window, vs DuckDB native "
        "forward ASOF JOIN (ON c.ts <= p.ts)",
    tags=("temporal", "asof", "join"),
)
def q_asof_forward_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_testdata(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        tolerance_us=_TOL_US,
        right_cols=["purchase_id"],
        direction="forward",
    )
    return joined.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("ts_r").alias("purchase_ts_us"),
        F.col("purchase_id_r").alias("purchase_id"),
    )


@register(
    "stream_stream_attribution",
    """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.purchase_id, c.click_id,
       epoch_us(p.purchase_ts) AS purchase_ts_us,
       epoch_us(c.click_ts) AS click_ts_us
FROM c JOIN p ON c.user_id = p.user_id
  AND c.click_ts <= p.purchase_ts
  AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
""",
    doc="stream-stream interval join (clicks x purchases, 1h window) "
        "drained via availableNow against the batch-join SQL oracle; "
        "watermarks on both sides bound the join state (a click older "
        "than purchase-watermark + gap is evicted). Inner-join matches "
        "emit immediately in append mode, so the drain is complete.",
    tags=("streaming", "temporal", "join"),
)
def q_stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from ..streaming.events import (
        interval_join_attribution,
        run_available_now,
        stream_from_parquet,
    )

    events = load_testdata(spark, sf_dir, "events")
    # re-land as micros-timestamp parquet: the raw testdata stores
    # TIMESTAMP(NANOS), which the streaming reader's fixed schema rejects
    src = tempfile.mkdtemp(prefix="stream_attr_src_")
    events.repartition(4, "event_id").write.mode("overwrite").parquet(src)
    clicks = stream_from_parquet(spark, src).filter(
        F.col("event_type") == "click"
    )
    purchases = stream_from_parquet(spark, src).filter(
        F.col("event_type") == "purchase"
    )
    joined = interval_join_attribution(clicks, purchases, max_gap="1 hour")
    qname = f"stream_attr_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="stream_attr_ckpt_")
    run_available_now(joined, qname, ckpt, output_mode="append")
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).select(
        "user_id",
        "purchase_id",
        "click_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.unix_micros("click_ts").alias("click_ts_us"),
    )


@register(
    "continuous_rollup",
    """
SELECT epoch_us(date_trunc('hour', ts)) AS bucket_us, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS total_value
FROM events GROUP BY 1, 2
""",
    doc="continuously-maintained hourly rollup: events streamed one file "
        "per micro-batch through ContinuousRollupSink (foreachBatch, "
        "additive merges committed on the transaction log, rewriting "
        "only the batch's key buckets, epoch-fenced), then the "
        "maintained TABLE is compared to the one-shot batch aggregate "
        "— incremental == batch is the continuous-aggregate contract.",
    tags=("streaming", "rollup", "temporal"),
)
def q_continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..io import Warehouse
    from ..streaming.events import stream_from_parquet
    from ..streaming.rollup import ContinuousRollupSink

    events = load_testdata(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="rollup_src_")
    # 4 files -> 4 micro-batches: the merge path runs, not just the seed
    events.repartition(4, "event_id").write.mode("overwrite").parquet(src)
    whdir = tempfile.mkdtemp(prefix="rollup_wh_")
    ckpt = tempfile.mkdtemp(prefix="rollup_ckpt_")
    sink = ContinuousRollupSink(Warehouse(spark, whdir), grains=("hour",))
    q = (
        stream_from_parquet(spark, src, max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = sink.read("hour").select(
        F.unix_micros("bucket").alias("bucket_us"),
        "event_type",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
    )
    # materialize before deleting the staging dirs the plan reads from
    out = out.localCheckpoint(eager=True)
    for d in (src, whdir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return out


@register(
    "range_band_join",
    """
WITH bands AS (
  SELECT CAST(i AS BIGINT) AS band_id,
         i * 750.0 AS lo, i * 750.0 + 749.99 AS hi
  FROM range(150) t(i)
)
SELECT l.l_orderkey, l.l_linenumber, b.band_id
FROM lineitem l JOIN bands b
  ON l.l_extendedprice >= b.lo AND l.l_extendedprice <= b.hi
""",
    doc="point-in-interval range join via fixed-width bucket explode + "
        "equi-join + residual filter (no nested loop); 150 price bands "
        "of width 750 over lineitem extendedprice",
    tags=("temporal", "range", "join"),
)
def q_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    bands = spark.range(150).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 750.0).alias("lo"),
        (F.col("id") * 750.0 + 749.99).alias("hi"),
    )
    out = range_bucket_join(
        li, bands, left_point="l_extendedprice", right_lo="lo",
        right_hi="hi", bucket_width=500.0,
    )
    return out.select("l_orderkey", "l_linenumber", "band_id")


# ---------------------------------------------------------------------------
# Streaming exact dedup (streaming/dedup.py): at-least-once delivery
# collapsed to effectively-once with watermark-bounded state. The query
# lands the events table TWICE (simulated redelivery), drains the
# deduped stream via availableNow, and must equal the distinct source.
# ---------------------------------------------------------------------------
@register(
    "stream_dedup",
    """
SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
FROM events
""",
    doc="dropDuplicatesWithinWatermark over a doubled landing of events, "
        "drained availableNow — equals the distinct source rows; state "
        "is bounded by the re-delivery horizon, not stream lifetime",
    tags=("streaming", "dedup"),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from ..streaming.dedup import dedup_stream
    from ..streaming.events import run_available_now, stream_from_parquet

    events = load_testdata(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="stream_dedup_src_")
    # at-least-once simulation: every event lands twice (same file set,
    # so both copies are in the same availableNow batch); re-land also
    # downcasts the nanos timestamps to the stream schema's micros
    events.unionAll(events).repartition(4).write.mode("overwrite").parquet(src)
    qname = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="stream_dedup_ckpt_")
    deduped = dedup_stream(stream_from_parquet(spark, src), delay="1 hour")
    run_available_now(deduped, qname, ckpt)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )


# ---------------------------------------------------------------------------
# Retention cohorts: the classic growth-analytics rollup (cohort = first
# active date per user; cells = distinct users active N days later).
# Two shuffles at any scale: per-user cohort agg, then the cell rollup —
# the cohort side joins back to the fact on user_id (SMJ at scale;
# broadcast here).
# ---------------------------------------------------------------------------
@register(
    "retention_cohorts",
    """
WITH c AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date
  FROM events GROUP BY user_id
)
SELECT c.cohort_date,
       date_diff('day', c.cohort_date, CAST(e.ts AS DATE)) AS day_offset,
       COUNT(DISTINCT e.user_id) AS n_active
FROM events e JOIN c ON e.user_id = c.user_id
GROUP BY c.cohort_date, date_diff('day', c.cohort_date, CAST(e.ts AS DATE))
""",
    doc="day-N retention matrix: first-active cohort per user, distinct "
        "active users per (cohort, day offset) — two shuffles total",
    tags=("temporal", "agg"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_testdata(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_date")
    )
    return (
        ev.join(cohorts, "user_id")
        .groupBy(
            "cohort_date",
            F.datediff(F.to_date("ts"), F.col("cohort_date"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Stream-static enrichment: the streaming side of J2. A file-landed
# event stream broadcast-joins the static customer dim inside each
# micro-batch (no state, no watermark needed — the dim is a plain
# batch frame Spark re-snapshots per batch), then a complete-mode
# aggregate drains via availableNow. Oracle: the same join + aggregate
# as one batch SQL statement.
# ---------------------------------------------------------------------------
@register(
    "stream_static_enrich",
    """
SELECT c.c_mktsegment, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
""",
    doc="stream-static broadcast enrichment join (events stream x "
        "customer dim) + complete-mode aggregate drained availableNow — "
        "must equal the batch join+group; dims broadcast per micro-batch, "
        "zero streaming state beyond the aggregate",
    tags=("streaming", "join"),
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    from ..streaming.events import run_available_now, stream_from_parquet

    events = load_testdata(spark, sf_dir, "events")
    cust = load_testdata(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    src = tempfile.mkdtemp(prefix="sse_src_")
    events.repartition(4).write.mode("overwrite").parquet(src)
    stream = stream_from_parquet(spark, src)
    enriched = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    )
    agg = (
        enriched.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,10)")).alias("_tv"),
        )
        .select(
            "c_mktsegment",
            "event_type",
            "n_events",
            F.round("_tv", 2).cast("double").alias("total_value"),
        )
    )
    qname = f"sse_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sse_ckpt_")
    run_available_now(agg, qname, ckpt, output_mode="complete")
    out = spark.table(qname).localCheckpoint(eager=True)
    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


# ---------------------------------------------------------------------------
# Distribution-drift monitoring: day-over-day L1 distance between value
# histograms (extensions/sketches.py:histogram_drift). Shares are never
# floats — the distance is cross-multiplied integer arithmetic with one
# final division, so the oracle is exact.
# ---------------------------------------------------------------------------
_DRIFT_LO, _DRIFT_HI, _DRIFT_BINS = 0.0, 600.0, 32

_DRIFT_ORACLE = f"""
WITH s AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         LEAST({_DRIFT_BINS - 1}, GREATEST(0,
           CAST(FLOOR((CAST(value AS DOUBLE) - {_DRIFT_LO})
                      / {_DRIFT_HI - _DRIFT_LO}
                      * {float(_DRIFT_BINS)}) AS BIGINT)))
           AS bin,
         COUNT(*) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), totals AS (
  SELECT day, SUM(c) AS tot FROM s GROUP BY day
), pairs AS (
  SELECT day, tot AS tot_cur,
         LAG(tot) OVER (ORDER BY day) AS tot_prev,
         LAG(day) OVER (ORDER BY day) AS prev_day
  FROM totals
  QUALIFY prev_day = day - INTERVAL 1 DAY
), u AS (
  SELECT s.day, s.bin, s.c * p.tot_prev AS v
  FROM s JOIN pairs p ON s.day = p.day
  UNION ALL
  SELECT CAST(s.day + INTERVAL 1 DAY AS DATE), s.bin, -s.c * p.tot_cur
  FROM s JOIN pairs p ON CAST(s.day + INTERVAL 1 DAY AS DATE) = p.day
), d AS (
  SELECT day, ABS(SUM(v)) AS ad FROM u GROUP BY day, bin
)
SELECT d.day, ROUND(CAST(SUM(d.ad) AS DOUBLE)
                    / CAST(p.tot_cur * p.tot_prev AS DOUBLE), 6) AS l1_drift
FROM d JOIN pairs p ON d.day = p.day
GROUP BY d.day, p.tot_cur, p.tot_prev
"""


@register(
    "distribution_drift",
    _DRIFT_ORACLE,
    doc="day-over-day L1 histogram drift of event values (32 bins): the "
        "monitoring signal for broken upstreams. Distances are "
        "cross-multiplied integer sums with ONE final double division — "
        "no float accumulation, exact in any engine; windows run over "
        "the 30-row day summary, never the data.",
    tags=("temporal", "sketch", "quality"),
)
def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.sketches import histogram_drift

    events = load_testdata(spark, sf_dir, "events")
    return histogram_drift(events, "ts", "value",
                           _DRIFT_LO, _DRIFT_HI, _DRIFT_BINS)


# ---------------------------------------------------------------------------
# Multi-touch attribution: every click within 1h before a purchase
# shares the purchase value equally (linear model) — the one-to-many
# generalization of asof_attribution's last-touch join.
# ---------------------------------------------------------------------------
_MULTITOUCH_ORACLE = """
WITH purchases AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, MAX(event_id) AS click_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), j AS (
  SELECT p.user_id, p.event_id, c.click_id, p.value
  FROM purchases p JOIN clicks c ON p.user_id = c.user_id
    AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
)
SELECT user_id, event_id, click_id,
       ROUND(1.0 / COUNT(*) OVER (PARTITION BY user_id, event_id), 9)
         AS weight,
       ROUND(value * ROUND(1.0 / COUNT(*) OVER (PARTITION BY user_id,
             event_id), 9), 6) AS credited
FROM j
"""


@register(
    "multitouch_attribution",
    _MULTITOUCH_ORACLE,
    doc="linear multi-touch attribution (1h lookback): key equi-join "
        "carries the shuffle, the time window is a residual predicate, "
        "weights come from one count window over the already-partitioned "
        "join output — no second shuffle. Weights are single-division "
        "rationals, cross-engine exact.",
    tags=("temporal", "join", "window"),
)
def q_multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import multitouch_attribution

    events = load_testdata(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    return multitouch_attribution(
        purchases, clicks, window="1 hour",
    )


# ---------------------------------------------------------------------------
# Token-bucket rate limiting (reference T4) + deterministic retry
# jitter (T5), replayed over the events log at hour resolution. The
# per-key admission fold is sequential by construction; the oracle
# replays it with a recursive walk per user — integer-exact bucket
# arithmetic makes the two bit-identical.
# ---------------------------------------------------------------------------
_RL = {"rate": 1, "capacity": 48, "cost": 24, "backoff": 24, "jitter": 12}

_RATELIMIT_ORACLE = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, epoch_us(ts) // 3600000000 AS ts_s FROM events
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts_s, event_id) AS r
  FROM base
), walk(user_id, r, prev_ts, tokens, event_id, ts_s, tokens_after,
        admitted) AS (
  SELECT user_id, 0, ts_s, CAST({_RL["capacity"]} AS BIGINT),
         NULL::BIGINT, NULL::BIGINT, NULL::BIGINT, NULL::BOOLEAN
  FROM ranked WHERE r = 1
  UNION ALL
  SELECT w.user_id, w.r + 1, d.ts_s,
         CASE WHEN f.filled >= {_RL["cost"]}
              THEN f.filled - {_RL["cost"]} ELSE f.filled END,
         d.event_id, d.ts_s,
         CASE WHEN f.filled >= {_RL["cost"]}
              THEN f.filled - {_RL["cost"]} ELSE f.filled END,
         f.filled >= {_RL["cost"]}
  FROM walk w
  JOIN ranked d ON d.user_id = w.user_id AND d.r = w.r + 1
  CROSS JOIN LATERAL (
    SELECT LEAST({_RL["capacity"]},
                 w.tokens + GREATEST((d.ts_s - w.prev_ts)
                                     * {_RL["rate"]}, 0)) AS filled
  ) f
)
SELECT user_id, event_id, ts_s, tokens_after, admitted,
       CASE WHEN NOT admitted
            THEN ts_s + {_RL["backoff"]}
                 + CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),
                                            1, 8)) AS BIGINT)
                   % {_RL["jitter"]}
       END AS retry_at
FROM walk WHERE r >= 1
"""


@register(
    "rate_limit_admission",
    _RATELIMIT_ORACLE,
    doc="per-user token-bucket rate limiting replayed over the request "
        "log (hour resolution, integer-exact refills) with "
        "deterministic md5 retry jitter for rejected requests — the "
        "reference's T4 rate limiter + T5 jitter as an auditable, "
        "replayable engine operator; per-key sequential fold in "
        "codegen, keys packed in parallel",
    tags=("temporal", "ratelimit", "control"),
)
def q_rate_limit_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ratelimit import token_bucket_admission

    events = load_testdata(spark, sf_dir, "events")
    reqs = events.select(
        "user_id",
        "event_id",
        # integer `div`, not double-divide-then-truncate: keeps the
        # bucket math exact and bit-identical to the oracle's `//`
        F.expr("unix_micros(ts) div 3600000000").alias("ts_h"),
    )
    return token_bucket_admission(
        reqs, key_col="user_id", ts_col="ts_h", id_col="event_id",
        rate=_RL["rate"], capacity=_RL["capacity"], cost=_RL["cost"],
        backoff=_RL["backoff"], jitter_max=_RL["jitter"],
    )


# ---------------------------------------------------------------------------
# Event-transition matrix: P(next event type | current) over per-user
# ordered journeys — the Markov-chain view of the event stream that
# funnels and anomaly detectors consume. One per-user ordered window
# (partitioned — no global sort), one map-side-combined pair count, and
# the per-source totals window runs over the tiny (types x types) agg
# frame, never the data.
# ---------------------------------------------------------------------------
_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS cur,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS nxt
  FROM events
), pairs AS (
  SELECT cur, nxt, COUNT(*) AS n
  FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
)
SELECT cur, nxt, n,
       CAST(FLOOR(n * 1000000.0 / SUM(n) OVER (PARTITION BY cur))
            AS BIGINT) AS share_ppm
FROM pairs
"""


@register(
    "event_transitions",
    _TRANSITIONS_ORACLE,
    doc="Markov transition matrix of the event stream: per-user ordered "
        "LEAD pairs (partitioned window — no global sort), one "
        "map-side-combined pair count, integer-exact conditional "
        "shares; the totals window runs over the types-squared agg "
        "frame, not the data",
    tags=("temporal", "analytics"),
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    per_cur = Window.partitionBy("cur")
    return pairs.select(
        "cur", "nxt", "n",
        F.floor(F.col("n") * 1000000.0 / F.sum("n").over(per_cur))
        .cast("long")
        .alias("share_ppm"),
    )


@register(
    "stream_event_transitions",
    _TRANSITIONS_ORACLE,
    doc="the transition matrix computed ONLINE: per-user previous-event "
        "state carried across two time-split micro-batch landings by "
        "applyInPandasWithState (O(1) state per key — one event), "
        "boundary pairs emitted from state; the drained pair multiset "
        "aggregates to the same matrix as the batch LEAD window, "
        "hash-checked against the SAME oracle as event_transitions",
    tags=("streaming", "temporal", "analytics"),
)
def q_stream_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import Window

    from ..streaming.transitions import transition_pairs

    events = load_testdata(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
    ).localCheckpoint()
    cut = events.approxQuantile("ts_us", [0.5], 0.0)[0]
    src = tempfile.mkdtemp(prefix="stream_tr_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_tr_ckpt_")
    out = tempfile.mkdtemp(prefix="stream_tr_out_")

    def drain():
        stream = spark.readStream.schema(
            "user_id long, event_id long, ts_us long, event_type string"
        ).parquet(src)

        def sink(batch, batch_id):
            batch.write.mode("overwrite").parquet(
                f"{out}/batch={batch_id}"
            )

        q = (
            transition_pairs(stream)
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    events.filter(F.col("ts_us") <= cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    events.filter(F.col("ts_us") > cut).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    drain()
    pairs = spark.read.parquet(out).localCheckpoint()
    for d in (src, ckpt, out):
        shutil.rmtree(d, ignore_errors=True)
    counted = pairs.groupBy("cur", "nxt").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_cur = Window.partitionBy("cur")
    return counted.select(
        "cur", "nxt", "n",
        F.floor(F.col("n") * 1000000.0 / F.sum("n").over(per_cur))
        .cast("long")
        .alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Event-rate spike detector: per (event_type, day) counts vs the
# trailing 7 OBSERVED days (rows frame — day gaps use the last seven
# rows that exist), spike = count * 7 > 2 * trailing_sum, evaluated
# only once a full 7-row history exists. Pure integer comparisons —
# no mean/stddev floats — so the alert decision is engine-exact; the
# window runs over the (type x day) summary frame, never the data.
# ---------------------------------------------------------------------------
_SPIKE_ORACLE = """
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
), w AS (
  SELECT event_type, day, n,
         SUM(n) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS prev7,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prev
  FROM d
)
SELECT event_type, day, n,
       CAST(COALESCE(prev7, 0) AS BIGINT) AS prev7,
       n_prev = 7 AND n * 7 > 2 * prev7 AS spike
FROM w
"""


@register(
    "event_rate_spikes",
    _SPIKE_ORACLE,
    doc="pipeline-health spike detector: per (event_type, day) counts "
        "vs the trailing 7 observed days, spike = n*7 > 2*trailing_sum "
        "once a full history exists — integer comparisons only (no "
        "float mean/stddev), windows over the type x day summary "
        "frame, never the data",
    tags=("temporal", "diagnostics"),
)
def q_event_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_testdata(spark, sf_dir, "events")
    d = events.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    return d.select(
        "event_type", "day", "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
        .alias("prev7"),
        (
            (F.count(F.lit(1)).over(w) == 7)
            & (F.col("n") * 7 > 2 * F.sum("n").over(w))
        ).alias("spike"),
    )


# ---------------------------------------------------------------------------
# Batch twin of the streaming QualityMonitorSink (VERDICT r5 Next #8):
# the SAME integer-exact cross-multiplied L1 drift decision as the
# foreachBatch sink, expressed as a pure plan so DuckDB can replay it —
# hash-checked evidence for the alert math the stream runs. Two
# scenarios: the second half of the month against the first (stationary
# synthetic data -> quiet) and a value-truncated batch (collapsed
# distribution -> alert).
# ---------------------------------------------------------------------------
_MON_SPLIT = "2024-01-15"
_MON_TRUNC = 30.0


def _mon_hist(pred: str) -> str:
    return f"""
  SELECT LEAST(9, GREATEST(0, CAST(FLOOR(value / 10.0) AS BIGINT))) AS bin,
         COUNT(*) AS c
  FROM events WHERE value IS NOT NULL AND {pred}
  GROUP BY 1
"""


def _mon_case(name: str, batch_pred: str) -> str:
    return f"""
SELECT '{name}' AS scenario,
       CAST(COALESCE(tb, 0) AS BIGINT) AS n_rows,
       CAST(CASE WHEN COALESCE(tb, 0) = 0 THEN 0
                 ELSE num * 1000000 // (tb * tr) END AS BIGINT) AS l1_ppm,
       CASE WHEN COALESCE(tb, 0) = 0 THEN FALSE
            ELSE num * 1000000 // (tb * tr) >= 200000 END AS alert,
       COALESCE(tb, 0) = 0 AS dead_upstream
FROM (
  SELECT SUM(ABS(COALESCE(b.c, 0) * tr - COALESCE(r.c, 0) * tb)) AS num,
         MAX(tb) AS tb, MAX(tr) AS tr
  FROM ({_mon_hist(batch_pred)}) b
  FULL OUTER JOIN ({_mon_hist(f"ts < TIMESTAMP '{_MON_SPLIT}'")}) r
    ON b.bin = r.bin
  CROSS JOIN (
    SELECT (SELECT SUM(c) FROM ({_mon_hist(batch_pred)})) AS tb,
           (SELECT SUM(c) FROM (
              {_mon_hist(f"ts < TIMESTAMP '{_MON_SPLIT}'")})) AS tr
  )
)
"""


_MON_ORACLE = (
    _mon_case("same", f"ts >= TIMESTAMP '{_MON_SPLIT}'")
    + "\nUNION ALL\n"
    + _mon_case(
        "shifted",
        f"ts >= TIMESTAMP '{_MON_SPLIT}' AND value < {_MON_TRUNC}",
    )
    + "\nUNION ALL\n"
    + _mon_case("empty", "FALSE")
)


@register(
    "monitor_drift_report",
    _MON_ORACLE,
    doc="batch twin of the streaming quality monitor: integer-exact "
        "cross-multiplied L1 drift in ppm vs a frozen reference "
        "histogram, decided entirely in-plan (decimal cross-products, "
        "no collect) — the stationary second half of the month stays "
        "quiet, a value-truncated batch alerts, and an EMPTY batch is "
        "flagged dead_upstream with zero drift instead of a fake "
        "maximal-l1 page (idle triggers are not distribution drift). "
        "Green means the foreachBatch sink's alert arithmetic is "
        "DuckDB-reproducible.",
    tags=("streaming", "diagnostics", "monitor"),
)
def q_monitor_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.monitor import drift_report

    events = load_testdata(spark, sf_dir, "events")
    split = F.lit(_MON_SPLIT).cast("timestamp")
    ref = events.filter(F.col("ts") < split)
    same = events.filter(F.col("ts") >= split)
    shifted = same.filter(F.col("value") < _MON_TRUNC)
    kw = dict(value_col="value", lo=0.0, hi=100.0, n_bins=10,
              alert_l1_ppm=200_000)
    cols = ["n_rows", "l1_ppm", "alert", "dead_upstream"]
    a = drift_report(same, ref, **kw).select(
        F.lit("same").alias("scenario"), *cols
    )
    b = drift_report(shifted, ref, **kw).select(
        F.lit("shifted").alias("scenario"), *cols
    )
    c = drift_report(same.filter(F.lit(False)), ref, **kw).select(
        F.lit("empty").alias("scenario"), *cols
    )
    return a.unionByName(b).unionByName(c)


# ---------------------------------------------------------------------------
# Watermark late-data accounting (VERDICT r6 Next #5): what the
# watermark DROPS, counted per window — the observability surface the
# streaming layer lacked (Structured Streaming discards late rows
# before any user operator can see them). Arrival micro-batches are
# synthesized deterministically (event time + a per-user hash jitter of
# up to 2 days, batched by arrival day), the engine's published
# watermark rule is replayed (wm_k = max event time of earlier batches
# - delay; a row below its batch's wm is late), and the oracle repeats
# the identical arithmetic — the drift_report pattern. The streaming
# sink twin is parity-tested in tests/test_streaming.py.
# ---------------------------------------------------------------------------
_LATE_JITTER_MOD = 172_800   # 0..2 days of arrival jitter
_LATE_DELAY_S = 21_600       # 6 h watermark delay
_LATE_BATCH_S = 86_400       # daily arrival micro-batches

_LATE_ORACLE = f"""
WITH e AS (
  SELECT ts,
         CAST(FLOOR((CAST(epoch(ts) AS BIGINT)
                     + (user_id * 2654435761) % {_LATE_JITTER_MOD})
                    / {_LATE_BATCH_S}) AS BIGINT) AS b
  FROM events WHERE ts IS NOT NULL
), m AS (
  SELECT b, MAX(CAST(epoch(ts) AS BIGINT)) AS mx FROM e GROUP BY b
), w AS (
  SELECT b,
         MAX(mx) OVER (ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           - {_LATE_DELAY_S} AS wm
  FROM m
)
SELECT date_trunc('hour', e.ts) AS window_start,
       CAST(SUM(CASE WHEN w.wm IS NULL
                       OR CAST(epoch(e.ts) AS BIGINT) >= w.wm
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       CAST(SUM(CASE WHEN w.wm IS NOT NULL
                      AND CAST(epoch(e.ts) AS BIGINT) < w.wm
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late
FROM e JOIN w USING (b)
GROUP BY 1
"""


@register(
    "late_data_accounting",
    _LATE_ORACLE,
    doc="watermark late-data accounting: per-hour admitted vs "
        "late-discarded counts under the engine's watermark rule "
        "(wm = running max event time of prior arrival batches minus "
        "delay), over deterministically jittered arrival batches — "
        "answers 'what is the watermark silently dropping' for a "
        "streaming ingest; two map-side-combined aggregations + one "
        "broadcast of the #batches-sized watermark table, row data "
        "touched exactly twice",
    tags=("streaming", "diagnostics", "watermark"),
)
def q_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.lateness import late_data_accounting

    events = load_testdata(spark, sf_dir, "events")
    arrival_batch = F.floor(
        (
            F.unix_timestamp(F.col("ts"))
            + (F.col("user_id") * F.lit(2654435761))
            % F.lit(_LATE_JITTER_MOD)
        )
        / F.lit(_LATE_BATCH_S)
    )
    batched = events.filter(F.col("ts").isNotNull()).withColumn(
        "_arrival", arrival_batch
    )
    return late_data_accounting(
        batched,
        batch_col="_arrival",
        ts_col="ts",
        delay_seconds=_LATE_DELAY_S,
        window_seconds=3600,
    )


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join, drained completely. Outer
# results only flush in a batch that RUNS with an advanced watermark
# (batch N's watermark comes from data seen through batch N-1), so a
# drain that stops when the data stops strands the tail's unmatched
# purchases in the state store. The fix is the production one:
# heartbeat/sentinel ticks. Pass 1 drains the real data; passes 2-3
# each append a far-future sentinel tick on BOTH streams and re-drain
# the SAME checkpoint — the file sink is exactly-once across restarts,
# and pass 3's batch runs with pass 2's sentinel watermark, flushing
# every real unmatched purchase deterministically. Sentinels (negative
# user ids) are filtered from the result; the oracle is the plain
# batch LEFT JOIN.
# ---------------------------------------------------------------------------
_STREAM_OUTER_ORACLE = """
WITH c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.purchase_id, c.click_id,
       epoch_us(p.purchase_ts) AS purchase_ts_us,
       epoch_us(c.click_ts) AS click_ts_us
FROM p LEFT JOIN c ON c.user_id = p.user_id
  AND c.click_ts <= p.purchase_ts
  AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
"""


@register(
    "stream_outer_attribution",
    _STREAM_OUTER_ORACLE,
    doc="stream-stream LEFT OUTER interval join drained to a file sink "
        "with sentinel-tick flushing: unmatched purchases null-pad "
        "only when a batch runs with an advanced watermark, so two "
        "sentinel passes (exactly-once across restarts via the file "
        "sink's commit log) deterministically flush the tail the "
        "plain availableNow drain would strand in the state store; "
        "result equals the batch LEFT JOIN row-for-row",
    tags=("streaming", "temporal", "join"),
)
def q_stream_outer_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from ..streaming.events import (
        interval_left_outer_attribution,
        run_available_now_files,
        stream_from_parquet,
    )

    # Fixed per-SF scratch root, wiped at START of each run (the
    # bucketed_join convention): repeated driver/bench invocations
    # reuse one directory instead of accumulating tmpdirs, the
    # returned DataFrame stays readable after the query function
    # exits, and the SF digest keeps concurrent different-SF runs
    # from wiping each other mid-read.
    import hashlib

    _tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_stream_oattr_{_tag}"
    )
    shutil.rmtree(root, ignore_errors=True)
    src, out, ckpt = (os.path.join(root, d) for d in ("src", "out", "ckpt"))

    events = load_testdata(spark, sf_dir, "events")
    events.repartition(4, "event_id").write.mode("overwrite").parquet(src)

    def drain() -> None:
        clicks = stream_from_parquet(spark, src).filter(
            F.col("event_type") == "click"
        )
        purchases = stream_from_parquet(spark, src).filter(
            F.col("event_type") == "purchase"
        )
        joined = interval_left_outer_attribution(
            clicks, purchases, max_gap="1 hour"
        )
        run_available_now_files(joined, out, ckpt)

    drain()  # pass 1: all real data
    for i, day in enumerate(("2100-01-01", "2100-01-02")):
        tick = spark.createDataFrame(
            [
                (-(2 * i + 1), day, -1, "click", 0.0, None),
                (-(2 * i + 2), day, -1, "purchase", 0.0, None),
            ],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id", F.to_timestamp("ts").alias("ts"), "user_id",
            "event_type", "value", "props",
        )
        tick.coalesce(1).write.mode("append").parquet(src)
        drain()  # passes 2-3: sentinel advances the watermark, re-drain

    return (
        spark.read.parquet(out)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id", "purchase_id", "click_id",
            F.unix_micros("purchase_ts").alias("purchase_ts_us"),
            F.unix_micros("click_ts").alias("click_ts_us"),
        )
    )

"""Core relational queries (SURVEY §2.2-§2.8) expressed on the driver
testdata star schema.

Each query is the testdata-isomorphic form of a reference operator; the
docstring names the operator and the reference call-site. Determinism
rules for the oracle hash: every aggregate/computed column is aliased
identically on both sides, floating aggregates are rounded, LIMIT is
always preceded by a total ORDER BY, and timestamps leave as DATE or
epoch-micros BIGINT (Spark session TZ is pinned UTC to match DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import load_testdata
from ..operators.mutuals import mutual_edges as _mutual_edges
from ..operators.mutuals import mutual_edges_intersect as _mutual_intersect
from . import register


def _exact_sum(expr, alias: str, scale: int = 2):
    """Order-insensitive exact SUM of a double expression.

    Parallel double summation is non-associative, so Spark's partial aggs
    and DuckDB's sequential sum can disagree at a ROUND boundary — and
    2-decimal source data makes exact .xx5 boundary sums *common*, where
    the engines' ROUND(double) implementations disagree. Per-row values
    are cast to decimal (identical rounding both engines), summed
    exactly, rounded while still decimal (HALF_UP in both), then cast.
    Oracle mirror: ``CAST(ROUND(SUM(CAST(x AS DECIMAL(28,10))), s) AS DOUBLE)``.

    r14: the per-row cast is DECIMAL(18,10), not (28,10) — precision
    <= 18 keeps Spark's Decimal in its compact long representation
    (one allocation-free long add per row in the sum) where 28 forces
    BigDecimal objects per row. Value-identical as long as |x| < 10^8
    per ROW (every money/value column here is < 1.2e6 by construction,
    and an overflow raises loudly under ANSI, never silently); the SUM
    accumulator is decimal(28,10) either way, so totals are unbounded
    by this choice. Same exact value as the oracle's DECIMAL(28,10)
    per-row cast.
    """
    return (
        F.round(F.sum(expr.cast("decimal(18,10)")), scale)
        .cast("double")
        .alias(alias)
    )

# ---------------------------------------------------------------------------
# Flagship: J1 mutual edges (instagram_scraper.py:428-435)
# ---------------------------------------------------------------------------
# Edge-set isomorphism on lineitem: "followers" = (orderkey, suppkey) pairs
# on discounted lines; "following" = pairs on taxed lines. A mutual edge is
# a pair present in both — the same 2-key conjunctive self-equi-join.

_MUTUAL_ORACLE = """
WITH f1 AS (
  SELECT DISTINCT l_orderkey AS user_id, l_suppkey AS follower_id
  FROM lineitem WHERE l_discount > 0.05
), f2 AS (
  SELECT DISTINCT l_orderkey AS user_id, l_suppkey AS following_id
  FROM lineitem WHERE l_tax > 0.04
)
SELECT f1.user_id AS user_id, f1.follower_id AS mutual_id
FROM f1 JOIN f2
  ON f1.user_id = f2.user_id AND f1.follower_id = f2.following_id
"""


def _edge_sets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    li = load_testdata(spark, sf_dir, "lineitem")
    followers = li.filter(F.col("l_discount") > 0.05).select(
        F.col("l_orderkey").alias("user_id"),
        F.col("l_suppkey").alias("follower_id"),
    )
    following = li.filter(F.col("l_tax") > 0.04).select(
        F.col("l_orderkey").alias("user_id"),
        F.col("l_suppkey").alias("following_id"),
    )
    return followers, following


@register(
    "mutual_edges",
    _MUTUAL_ORACLE,
    doc="J1 flagship: 2-key self-equi-join between two edge sets",
    tags=("join", "flagship"),
)
def q_mutual_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    followers, following = _edge_sets(spark, sf_dir)
    return _mutual_edges(followers, following)


@register(
    "mutual_edges_salted",
    _MUTUAL_ORACLE,
    doc="skew-safe J1 twin (SURVEY §7 risk 5): followers side spread "
        "over 8 deterministic salt sub-keys, following side replicated "
        "8x, so a celebrity key's rows land on 8 tasks instead of one; "
        "salting is semantics-invisible — same oracle as mutual_edges",
    tags=("join", "skew", "flagship"),
)
def q_mutual_edges_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mutuals import mutual_edges_salted

    followers, following = _edge_sets(spark, sf_dir)
    return mutual_edges_salted(followers, following, salt=8)


@register(
    "mutual_edges_intersect",
    """
WITH f1 AS (
  SELECT DISTINCT l_orderkey AS user_id, l_suppkey AS mutual_id
  FROM lineitem WHERE l_discount > 0.05
), f2 AS (
  SELECT DISTINCT l_orderkey AS user_id, l_suppkey AS mutual_id
  FROM lineitem WHERE l_tax > 0.04
)
SELECT user_id, mutual_id FROM f1
INTERSECT
SELECT user_id, mutual_id FROM f2
""",
    doc="§2.7 INTERSECT formulation of J1 (cross-check)",
    tags=("setop",),
)
def q_mutual_edges_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    followers, following = _edge_sets(spark, sf_dir)
    return _mutual_intersect(followers, following)


# ---------------------------------------------------------------------------
# P1 key lookup (instagram_scraper.py:419)
# ---------------------------------------------------------------------------
@register(
    "key_lookup",
    "SELECT c_custkey FROM customer WHERE c_name = 'Customer#000000042'",
    doc="P1: SELECT user_id FROM users WHERE username = %s",
    tags=("filter",),
)
def q_key_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")
    return customer.filter(F.col("c_name") == "Customer#000000042").select("c_custkey")


# ---------------------------------------------------------------------------
# J2 enrichment join (interest_analyzer.py:124-129)
# ---------------------------------------------------------------------------
@register(
    "enrichment_join",
    """
SELECT o.o_orderkey, c.c_name, o.o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
""",
    doc="J2: edges->vertices enrichment join with pushed filter",
    tags=("join",),
)
def q_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    customer = load_testdata(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    # dim side is small post-filter -> broadcast (Catalyst would pick it
    # up from stats; the hint makes it explicit for the 100 TB plan)
    return orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner"
    ).select("o_orderkey", "c_name", "o_totalprice")


# ---------------------------------------------------------------------------
# J3 pending-work anti-join (interest_analyzer.py:291-298)
# ---------------------------------------------------------------------------
@register(
    "pending_anti_join",
    """
SELECT c.c_custkey, c.c_name
FROM customer c
JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O') done
  ON c.c_custkey = done.o_custkey
WHERE NOT EXISTS (
  SELECT 1 FROM orders f
  WHERE f.o_custkey = c.c_custkey AND f.o_orderstatus = 'F'
)
ORDER BY c.c_custkey
LIMIT 5
""",
    doc="J3: inner join + left_anti + deterministic LIMIT",
    tags=("join", "anti"),
)
def q_pending_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")
    orders = load_testdata(spark, sf_dir, "orders")
    done = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .dropDuplicates()
    )
    finished = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        customer.join(done, customer.c_custkey == done.o_custkey, "left_semi")
        .join(finished, customer.c_custkey == finished.o_custkey, "left_anti")
        .orderBy("c_custkey")
        .limit(5)
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------------------
# J4 dimension hierarchy (interest_analyzer.py:101-102)
# ---------------------------------------------------------------------------
@register(
    "dim_hierarchy",
    """
SELECT n.n_name AS child_name, r.r_name AS parent_name
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
""",
    doc="J4: 2-level dimension hierarchy join (broadcast)",
    tags=("join", "dim"),
)
def q_dim_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_testdata(spark, sf_dir, "nation")
    region = load_testdata(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner"
    ).select(F.col("n_name").alias("child_name"), F.col("r_name").alias("parent_name"))


# ---------------------------------------------------------------------------
# J5 3-way verification join (tests/test_scraper.py:239-245)
# ---------------------------------------------------------------------------
@register(
    "three_way_join",
    """
SELECT c.c_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'F'
GROUP BY c.c_name
""",
    doc="J5: chained inner equi-joins fact->fact->dim + agg",
    tags=("join", "agg"),
)
def q_three_way_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem")
    orders = load_testdata(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    customer = load_testdata(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner")
        .groupBy("c_name")
        .agg(
            _exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# J6/G1 count-via-join gates (job_scheduler.py:126-133)
# ---------------------------------------------------------------------------
@register(
    "count_via_join",
    """
SELECT COUNT(*) AS cnt
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
""",
    doc="J6/G1: filtered scalar count over a join",
    tags=("agg",),
)
def q_count_via_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem")
    orders = load_testdata(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# O1 FIFO dequeue (job_scheduler.py:95-101)
# ---------------------------------------------------------------------------
@register(
    "fifo_dequeue",
    """
SELECT event_id, event_type, user_id
FROM events ORDER BY event_id LIMIT 10
""",
    doc="O1: ORDER BY key LIMIT n -> TakeOrderedAndProject top-k",
    tags=("topk",),
)
def q_fifo_dequeue(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_testdata(spark, sf_dir, "events")
    return events.orderBy("event_id").limit(10).select(
        "event_id", "event_type", "user_id"
    )


# ---------------------------------------------------------------------------
# P5 temporal + IN-list predicate (job_scheduler.py:55-59)
# ---------------------------------------------------------------------------
@register(
    "temporal_in_filter",
    """
SELECT event_id, event_type, epoch_us(ts) AS ts_us
FROM events
WHERE event_type IN ('click', 'view', 'purchase')
  AND ts > TIMESTAMP '2024-01-24 00:00:00'
""",
    doc="P5: IN-list + 7-day temporal predicate (fixed 'now' for determinism)",
    tags=("filter",),
)
def q_temporal_in_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_testdata(spark, sf_dir, "events")
    return (
        events.filter(
            F.col("event_type").isin("click", "view", "purchase")
            & (F.col("ts") > F.lit("2024-01-24 00:00:00").cast("timestamp"))
        )
        .select("event_id", "event_type", F.unix_micros("ts").alias("ts_us"))
    )


# ---------------------------------------------------------------------------
# T3/F3 daily quota counter (job_scheduler.py:29-47)
# ---------------------------------------------------------------------------
@register(
    "daily_counts",
    """
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY CAST(ts AS DATE)
""",
    doc="T3 quota analog: per-day counters (group by day-of-stream)",
    tags=("agg", "temporal"),
)
def q_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_testdata(spark, sf_dir, "events")
    return (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _exact_sum(F.col("value"), "total_value"),
        )
    )


# ---------------------------------------------------------------------------
# G5 conditional counts (tests/test_scraper.py:144-157)
# ---------------------------------------------------------------------------
@register(
    "conditional_counts",
    """
SELECT COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
       COUNT(CASE WHEN o_orderstatus <> 'F' THEN 1 END) AS n_open
FROM orders
""",
    doc="G5: main-vs-sub conditional count pattern",
    tags=("agg",),
)
def q_conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_orderstatus") != "F", 1)).alias("n_open"),
    )


# ---------------------------------------------------------------------------
# A1 upsert-keep-newest semantics (instagram_scraper.py:194-217)
# ---------------------------------------------------------------------------
@register(
    "upsert_keep_newest",
    """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_date
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
  ) AS rn
  FROM orders
) WHERE rn = 1
""",
    doc="A1: keep-newest-per-key via row_number window (upsert emulation)",
    tags=("window", "write-pattern"),
)
def q_upsert_keep_newest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.to_date("o_orderdate").alias("o_date"),
        )
    )


# ---------------------------------------------------------------------------
# A2 insert-if-absent semantics (instagram_scraper.py:260-278)
# ---------------------------------------------------------------------------
@register(
    "insert_if_absent",
    """
SELECT DISTINCT o.o_custkey AS new_key
FROM orders o
WHERE o.o_orderstatus = 'O'
  AND NOT EXISTS (
    SELECT 1 FROM customer c
    WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0
  )
""",
    doc="A2: dedup + left-anti against existing keys (ON CONFLICT DO NOTHING)",
    tags=("anti", "write-pattern"),
)
def q_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    customer = load_testdata(spark, sf_dir, "customer")
    incoming = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("new_key"))
        .dropDuplicates()
    )
    existing = customer.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("new_key")
    )
    return incoming.join(existing, "new_key", "left_anti")


# ---------------------------------------------------------------------------
# Top-k per group (§2.5 window introduction)
# ---------------------------------------------------------------------------
@register(
    "top_k_per_group",
    """
SELECT o_orderpriority, o_orderkey, o_totalprice
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
  ) AS rn
  FROM orders
) WHERE rn <= 3
""",
    doc="window top-k per group (rank the queue per job type)",
    tags=("window", "topk"),
)
def q_top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Running total window (progress-checkpoint analog, A4)
# ---------------------------------------------------------------------------
@register(
    "running_total",
    """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS DOUBLE) AS running_spend
FROM orders
""",
    doc="cumulative per-key running sum (ordered frame -> deterministic)",
    tags=("window",),
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,10)")).over(w), 2
        ).cast("double").alias("running_spend"),
    )


# ---------------------------------------------------------------------------
# §2.7 set ops: union + distinct (the upsert-emulation union, A1/A2)
# ---------------------------------------------------------------------------
@register(
    "union_dedup",
    """
SELECT entity_key FROM (
  SELECT o_custkey AS entity_key FROM orders WHERE o_orderstatus = 'O'
  UNION
  SELECT c_custkey AS entity_key FROM customer WHERE c_acctbal > 5000
)
""",
    doc="§2.7: UNION with set-dedup semantics (the A1/A2 merge shape)",
    tags=("setop",),
)
def q_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    customer = load_testdata(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("entity_key")
    )
    b = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("entity_key")
    )
    return a.union(b).distinct()


# ---------------------------------------------------------------------------
# Semi-join (EXISTS — the A2 existence probe as a standalone op)
# ---------------------------------------------------------------------------
@register(
    "semi_join_exists",
    """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
""",
    doc="left-semi join (EXISTS): customers with urgent orders",
    tags=("join", "semi"),
)
def q_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")
    urgent = load_testdata(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Pivot (wide-format rollup of the ledger-status shape)
# ---------------------------------------------------------------------------
@register(
    "pivot_status_counts",
    """
SELECT o_orderpriority,
       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
FROM orders GROUP BY o_orderpriority
""",
    doc="pivot: status columns per priority (job-ledger status board shape)",
    tags=("agg", "pivot"),
)
def q_pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
            F.coalesce(F.col("F"), F.lit(0)).alias("n_finished"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_pending"),
        )
    )


# ---------------------------------------------------------------------------
# Rollup (hierarchical subtotals — the analytics layer over §2.4)
# ---------------------------------------------------------------------------
@register(
    "rollup_revenue",
    """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="ROLLUP subtotals: per (flag,status), per flag, grand total",
    tags=("agg", "rollup"),
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,10)")), 2)
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
@register(
    "cube_revenue",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE over (status, priority): all 4 grouping-set combinations in "
        "one pass with GROUPING() disambiguation markers — Spark plans "
        "one Expand + single hash aggregate, not 4 scans",
    tags=("agg", "cube"),
)
def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,10)")), 2)
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_priority",
        "revenue", "n_orders",
    )


# ---------------------------------------------------------------------------
# Tumbling event-time windows (§2.9) — the SAME function the streaming
# layer runs; executed here in batch mode (streaming-batch parity).
# ---------------------------------------------------------------------------
@register(
    "hourly_window_counts",
    """
SELECT epoch_us(date_trunc('hour', ts)) AS ws_us, event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
""",
    doc="tumbling 1h event-time windows per type (streaming op in batch mode)",
    tags=("window", "temporal", "streaming"),
)
def q_hourly_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.events import tumbling_counts

    events = load_testdata(spark, sf_dir, "events")
    return tumbling_counts(events).select(
        F.unix_micros("window_start").alias("ws_us"),
        "event_type",
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# Q5-flavored multi-join: revenue by nation where customer and supplier
# share a nation (exercises Catalyst join reordering over 6 relations)
# ---------------------------------------------------------------------------
@register(
    "regional_revenue",
    """
SELECT n_name,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(28,10))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY n_name
""",
    doc="6-relation join chain with dim broadcast + co-nation predicate",
    tags=("join", "agg", "bench"),
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_testdata(spark, sf_dir, "customer")
    orders = load_testdata(spark, sf_dir, "orders")
    li = load_testdata(spark, sf_dir, "lineitem")
    supplier = load_testdata(spark, sf_dir, "supplier")
    nation = load_testdata(spark, sf_dir, "nation")
    region = load_testdata(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            _exact_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# SQL front-end: the registry is DataFrame-first, but the engine's SQL
# surface is first-class — this query runs the SAME text Spark SQL and
# DuckDB execute (catalog views registered on the fly).
# ---------------------------------------------------------------------------
_SHARED_SQL = """
SELECT c_name,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE) AS total_spend
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_name
ORDER BY total_spend DESC, c_name
LIMIT 10
"""


@register(
    "sql_api_top_spenders",
    _SHARED_SQL,
    doc="SQL API surface: identical ANSI text executed by Spark SQL and DuckDB",
    tags=("sql", "agg", "topk"),
)
def q_sql_api_top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import register_testdata_views

    register_testdata_views(spark, sf_dir)
    return spark.sql(_SHARED_SQL)


# ---------------------------------------------------------------------------
# 2-hop graph composition: entities linked through a shared neighbor
# (friends-of-friends shape on the purchase graph; the flagship J1 is
# the 1-hop primitive this composes)
# ---------------------------------------------------------------------------
@register(
    "copurchase_pairs",
    """
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT a.cust AS cust_a, b.cust AS cust_b, COUNT(*) AS shared_parts
FROM cp a JOIN cp b ON a.part = b.part AND a.cust < b.cust
GROUP BY a.cust, b.cust
HAVING COUNT(*) >= 3
""",
    doc="2-hop self-join through a shared neighbor (FoF composition of J1)",
    tags=("join", "graph"),
)
def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_testdata(spark, sf_dir, "lineitem")
    orders = load_testdata(spark, sf_dir, "orders")
    cp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .dropDuplicates()
    )
    a, b = cp.alias("a"), cp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.part") == F.col("b.part"))
            & (F.col("a.cust") < F.col("b.cust")),
        )
        .groupBy(
            F.col("a.cust").alias("cust_a"), F.col("b.cust").alias("cust_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_parts"))
        .filter(F.col("shared_parts") >= 3)
    )


# ---------------------------------------------------------------------------
# Table profiling: per-column null/distinct/min-max stats (the data-
# quality sweep a training pipeline runs before ingest)
# ---------------------------------------------------------------------------
@register(
    "table_profile",
    """
SELECT COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_custkey) AS null_custkey,
       COUNT(DISTINCT o_custkey) AS distinct_cust,
       COUNT(DISTINCT o_orderstatus) AS distinct_status,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       MIN(epoch_us(o_orderdate)) AS min_date_us,
       MAX(epoch_us(o_orderdate)) AS max_date_us
FROM orders
""",
    doc="single-pass column profile: nulls, distincts, ranges",
    tags=("agg", "profile"),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).alias("null_custkey"),
        F.countDistinct("o_custkey").alias("distinct_cust"),
        F.countDistinct("o_orderstatus").alias("distinct_status"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min(F.unix_micros("o_orderdate")).alias("min_date_us"),
        F.max(F.unix_micros("o_orderdate")).alias("max_date_us"),
    )


# ---------------------------------------------------------------------------
# Behavioral funnel: ordered-event conversion (view -> click -> purchase)
# via conditional-min aggregation — one pass, no self-joins
# ---------------------------------------------------------------------------
@register(
    "event_funnel",
    """
WITH t AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
         MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS c,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(CASE WHEN v IS NOT NULL THEN 1 END) AS n_viewed,
       COUNT(CASE WHEN c > v THEN 1 END) AS n_clicked_after_view,
       COUNT(CASE WHEN c > v AND p > c THEN 1 END) AS n_full_funnel
FROM t
""",
    doc="ordered conversion funnel via conditional mins (single pass)",
    tags=("agg", "temporal", "funnel"),
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_testdata(spark, sf_dir, "events")
    us = F.unix_micros("ts")

    def first(t):
        return F.min(F.when(F.col("event_type") == t, us))

    t = events.groupBy("user_id").agg(
        first("view").alias("v"), first("click").alias("c"),
        first("purchase").alias("p"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("v").isNotNull(), 1)).alias("n_viewed"),
        F.count(F.when(F.col("c") > F.col("v"), 1)).alias("n_clicked_after_view"),
        F.count(
            F.when((F.col("c") > F.col("v")) & (F.col("p") > F.col("c")), 1)
        ).alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# Exact interpolated quantiles (linear interpolation is bit-identical
# between Spark's percentile and DuckDB's quantile_cont — verified)
# ---------------------------------------------------------------------------
@register(
    "price_quantiles",
    """
SELECT o_orderstatus,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90,
       quantile_cont(o_totalprice, 0.99) AS p99
FROM orders GROUP BY o_orderstatus
""",
    doc="exact interpolated percentiles per group (sort-based, no sketch)",
    tags=("agg", "quantile"),
)
def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )


# ---------------------------------------------------------------------------
# §2.11 UDAF-via-pandas: grouped applyInPandas verified against a pure
# relational oracle (the Arrow group boundary is what's under test)
# ---------------------------------------------------------------------------
@register(
    "pandas_group_summary",
    """
WITH pc AS (
  SELECT o_custkey, o_orderpriority, COUNT(*) AS c
  FROM orders GROUP BY o_custkey, o_orderpriority
), top AS (
  SELECT o_custkey, o_orderpriority AS top_priority
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY c DESC, o_orderpriority NULLS FIRST
    ) AS rn FROM pc
  ) WHERE rn = 1
)
SELECT g.o_custkey, g.n_orders, top.top_priority, g.max_price, g.first_order_us
FROM (
  SELECT o_custkey, COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price,
         MIN(epoch_us(o_orderdate)) AS first_order_us
  FROM orders GROUP BY o_custkey
) g JOIN top ON g.o_custkey IS NOT DISTINCT FROM top.o_custkey
""",
    doc="pandas UDAF (applyInPandas, one row per group) vs relational oracle",
    tags=("udaf", "pandas"),
)
def q_pandas_group_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..analysis.group_summary import customer_order_summary

    orders = load_testdata(spark, sf_dir, "orders")
    return customer_order_summary(orders)


# ---------------------------------------------------------------------------
# F5: JSON payload extraction (the LLM-response parse,
# interest_analyzer.py:192) on the events.props JSON column
# ---------------------------------------------------------------------------
@register(
    "props_json_extract",
    """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
""",
    doc="F5: JSON field extraction + typed cast + predicate",
    tags=("json", "filter"),
)
def q_props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_testdata(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events.select("event_id", k.alias("k_value"))
        .filter(F.col("k_value") >= 50)
    )


# ---------------------------------------------------------------------------
# Batch sessionization: lag + gap-break cumsum (the batch twin of the
# streaming session_window in §2.9)
# ---------------------------------------------------------------------------
_SESSION_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
FROM s GROUP BY user_id, session_id
"""


@register(
    "sessionize_batch",
    _SESSION_ORACLE,
    doc="sessionization via lag + gap>30min cumsum (batch twin of session_window)",
    tags=("window", "temporal"),
)
def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_testdata(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    brk = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.withColumn("session_id", F.sum(brk).over(wc))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_micros("ts")).alias("start_us"),
            F.max(F.unix_micros("ts")).alias("end_us"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming sessionization, oracle-checked: the session_window streaming
# aggregation drained with availableNow (complete mode) must equal the
# SQL gap-sessionization. Promotes the pytest batch-stream parity check
# into the correctness gate (SURVEY §2.9).
# ---------------------------------------------------------------------------
_SESSION_STREAM_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
         CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM g
)
SELECT user_id, COUNT(*) AS n_events,
       MIN(epoch_us(ts)) AS start_us,
       MAX(epoch_us(ts)) + 1800000000 AS end_us
FROM s GROUP BY user_id, sid
"""


@register(
    "sessionize_stream",
    _SESSION_STREAM_ORACLE,
    doc="streaming session_window (30 min gap) drained via availableNow, "
        "vs SQL gap-sessionization. Stream semantics: a gap of EXACTLY "
        "the session gap starts a new session (window end is exclusive), "
        "hence >= in the oracle's break condition, unlike the batch "
        "twin's >; session end = last event + gap.",
    tags=("streaming", "window", "temporal"),
)
def q_sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile
    import uuid

    from ..streaming.events import (
        run_available_now,
        session_windows,
        stream_from_parquet,
    )

    events = load_testdata(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="sessionize_stream_src_")
    # re-land as micros-timestamp parquet: the raw testdata stores
    # TIMESTAMP(NANOS), which the streaming reader's fixed schema rejects
    events.repartition(4).write.mode("overwrite").parquet(src)
    qname = f"sessionize_stream_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sessionize_stream_ckpt_")
    sessions = session_windows(stream_from_parquet(spark, src), gap="30 minutes")
    # complete mode: emit every session, including those still inside the
    # watermark horizon at end-of-input
    run_available_now(sessions, qname, ckpt, output_mode="complete")
    # the memory sink holds the rows; the staging dirs can go
    import shutil

    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(qname).select(
        "user_id",
        "n_events",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary — headline bench query
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,10))), 2) AS DOUBLE) AS sum_charge,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
       ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="headline agg: 2-key groupBy, 8 aggregates, filter pushed to scan",
    tags=("agg", "bench"),
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import spread_small_scan

    li = load_testdata(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    def dec_sum(expr, scale=2):
        return F.round(F.sum(expr.cast("decimal(18,10)")), scale).cast("double")

    def dbl_sum(expr):
        return F.sum(expr.cast("decimal(18,10)")).cast("double")

    cnt = F.count(F.lit(1))
    # single-row-group input file = one scan task for 6 decimal sums
    # over every row; the gated spread (no-op on a real multi-split
    # table) parallelizes the cast+partial-agg work. Hash on the
    # high-cardinality key: round-robin would pay a local sort
    # (r14: 1.63s -> 0.75s at sf0.1 with the decimal(18,10) casts)
    filtered = spread_small_scan(
        li.filter(
            F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
        ),
        key="l_orderkey",
    )
    return (
        filtered
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(F.col("l_quantity")).alias("sum_qty"),
            dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            dec_sum(disc_price).alias("sum_disc_price"),
            dec_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.round(dbl_sum(F.col("l_quantity")) / cnt, 4).alias("avg_qty"),
            F.round(dbl_sum(F.col("l_extendedprice")) / cnt, 4).alias("avg_price"),
            F.round(dbl_sum(F.col("l_discount")) / cnt, 4).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Keyset pagination: the scale-correct page fetch. OFFSET n scans and
# discards n rows on every page (O(pages^2) total at serving time);
# the keyset cursor turns the page boundary into a PUSHED predicate —
# the scan skips ahead, TakeOrderedAndProject returns one page, and
# page cost stays O(page) forever. Cursor = the total-order key of the
# last row of the previous page.
# ---------------------------------------------------------------------------
_PAGE_SIZE = 20
_CURSOR_DATE, _CURSOR_KEY = "1996-01-02", 1223


@register(
    "keyset_page",
    f"""
SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
       o_totalprice
FROM orders
WHERE o_orderdate > DATE '{_CURSOR_DATE}'
   OR (o_orderdate = DATE '{_CURSOR_DATE}' AND o_orderkey > {_CURSOR_KEY})
ORDER BY o_orderdate, o_orderkey
LIMIT {_PAGE_SIZE}
""",
    doc="keyset pagination: the page boundary is a pushed predicate on "
        "the total-order key (date, orderkey), so the scan skips ahead "
        "and TakeOrderedAndProject returns one page — O(page) per "
        "fetch forever, where OFFSET degrades O(pages^2); the serving "
        "pattern every API layer over the warehouse should use",
    tags=("relational", "topk", "serving"),
)
def q_keyset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    cursor_d = F.lit(_CURSOR_DATE).cast("date")
    d = F.col("o_orderdate").cast("date")
    page = (
        orders.filter(
            (d > cursor_d)
            | ((d == cursor_d) & (F.col("o_orderkey") > _CURSOR_KEY))
        )
        .select(
            "o_orderkey", d.alias("o_orderdate"), "o_totalprice"
        )
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_PAGE_SIZE)
    )
    return page


# ---------------------------------------------------------------------------
# Bucketed-layout co-located join: both sides written bucketBy(8, key)
# into catalog tables, then joined WITHOUT any exchange — the layout
# that amortizes ONE write-time shuffle across every subsequent join on
# that key (the 100 TB strategy for fact tables that join repeatedly).
# Broadcast is disabled around the join so the run exercises the
# bucketed sort-merge path, not a broadcast fallback; CI pins the
# no-Exchange plan in tests/test_bucketing.py. The oracle is the plain
# join + rollup — green means the bucketed layout changes nothing.
# ---------------------------------------------------------------------------
_BUCKETED_JOIN_ORACLE = """
SELECT c.c_nationkey AS nationkey,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
"""


@register(
    "bucketed_join",
    _BUCKETED_JOIN_ORACLE,
    doc="bucketed-table co-located join: orders and customer written "
        "bucketBy(8) on the join key as catalog tables, joined with "
        "broadcast disabled so the bucketed sort-merge path runs with "
        "ZERO join-side exchange (plan pinned in CI) — write-time "
        "shuffle paid once, every later join on the key is free; "
        "oracle is the plain join, proving layout changes no answers",
    tags=("join", "layout", "bucketing"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..io import write_bucketed

    # Fixed per-SF table names + a fixed per-SF external location,
    # overwritten per run: repeated driver/bench invocations reuse the
    # same two metastore entries and the same directory instead of
    # accumulating tables/tempdirs (ADVICE r6 #5); the SF digest keeps
    # CONCURRENT different-SF runs (e.g. an overlapping sf0.01 gate
    # and sf0.1 sweep) from overwriting each other's tables mid-read.
    import hashlib

    _tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_bucketed_join_{_tag}"
    )
    orders = load_testdata(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    customer = load_testdata(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    write_bucketed(
        orders, f"bj_orders_{_tag}", 8, ["o_custkey"],
        path=f"{root}/orders",
    )
    write_bucketed(
        customer, f"bj_customer_{_tag}", 8, ["c_custkey"],
        path=f"{root}/customer",
    )
    b_orders = spark.table(f"bj_orders_{_tag}")
    b_customer = spark.table(f"bj_customer_{_tag}")
    # A MERGE join hint — not a session-wide autoBroadcastJoinThreshold
    # toggle — pins the sort-merge strategy INSIDE the plan itself: the
    # returned DataFrame exercises the bucketed zero-exchange SMJ path
    # no matter when or where it is explained/collected (the r6 conf
    # dance produced a plan dump showing BroadcastHashJoin because the
    # conf was restored before the driver explained the result), and
    # nothing racy touches shared session state.
    joined = b_orders.hint("merge").join(
        b_customer, b_orders.o_custkey == b_customer.c_custkey
    )
    return joined.groupBy(
        F.col("c_nationkey").alias("nationkey")
    ).agg(
        F.count("*").alias("n_orders"),
        _exact_sum(F.col("o_totalprice"), "revenue"),
    )


# ---------------------------------------------------------------------------
@register(
    "grouping_sets_revenue",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    doc="GROUPING SETS with a NON-uniform set list — per-status,  "
        "per-priority, and grand total, skipping the (status, priority) "
        "cross CUBE would compute: one Expand + one hash aggregate pass "
        "(3x row replication instead of cube's 4x), the exact-cost "
        "report-rollup shape; GROUPING() markers disambiguate the "
        "all-NULL grand-total row from a NULL group value",
    tags=("agg", "cube"),
)
def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_testdata(spark, sf_dir, "orders")
    return orders.groupingSets(
        [[F.col("o_orderstatus")], [F.col("o_orderpriority")], []],
        F.col("o_orderstatus"),
        F.col("o_orderpriority"),
    ).agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,10)")), 2)
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning: the Catalyst runtime-pruning path that
# makes star-schema joins viable at 100 TB — the fact table is written
# DATE-PARTITIONED (the universal warehouse layout), the dim side
# carries a selective filter, and Spark injects the dim's build-side
# keys as a runtime partition filter on the fact SCAN (reusing the
# broadcast), so only the matching partitions' files are ever listed or
# read. Asserted in-query: the fact scan's plan carries a
# `dynamicpruning` partition filter. The oracle is the plain
# filter+aggregate — pruning changes files read, never answers.
# ---------------------------------------------------------------------------
_DPP_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE)
         AS revenue
FROM orders
WHERE year(o_orderdate) IN (1996, 1997)
GROUP BY 1
"""


@register(
    "dpp_partition_prune",
    _DPP_ORACLE,
    doc="dynamic partition pruning over a date-partitioned fact table: "
        "orders re-landed partitionBy(o_year), joined to a selectively "
        "filtered 2-of-7-years dim — Catalyst injects the broadcast "
        "build-side keys as a runtime partition filter on the fact scan "
        "(asserted in-query: `dynamicpruning` in the scan's partition "
        "filters), so 5 of 7 year-partitions are never listed or read; "
        "oracle is the plain year-filtered rollup",
    tags=("join", "layout", "pruning", "dpp"),
)
def q_dpp_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import io
    import os
    import tempfile
    from contextlib import redirect_stdout

    # per-SF scratch, overwritten per run (the bucketed_join convention)
    _tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_dpp_{_tag}"
    )
    orders = load_testdata(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    orders.write.partitionBy("o_year").mode("overwrite").parquet(root)
    fact = spark.read.parquet(root)

    # the dim carries a SELECTIVE filter (the DPP heuristic requires
    # one on the build side before pruning is judged beneficial)
    dim = (
        spark.range(1992, 1999)
        .select(F.col("id").cast("int").alias("y"))
        .filter(F.col("y").isin(1996, 1997))
    )
    out = (
        fact.join(F.broadcast(dim), fact.o_year == dim.y)
        .groupBy("o_year")
        .agg(
            F.count("*").alias("n_orders"),
            _exact_sum(F.col("o_totalprice"), "revenue"),
        )
    )
    # the runtime partition filter must actually be planned — a DPP
    # regression would silently re-read all 7 year-partitions
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    assert "dynamicpruning" in buf.getvalue().lower(), (
        "dynamic partition pruning did not plan on the fact scan"
    )
    return out

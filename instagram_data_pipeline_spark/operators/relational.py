"""Relational operator library (SURVEY §2.2-§2.7).

Thin, named, pure functions over the reference-shaped tables. Everything
here compiles to built-in Catalyst operators — filters/projections push
into the Parquet scan, the IS-NULL idiom is written as an explicit
``left_anti``, dimension joins take a ``broadcast`` hint, and ORDER
BY+LIMIT plans as TakeOrderedAndProject (top-k, no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# -- P1 (instagram_scraper.py:419, interest_analyzer.py:146) ---------------
def key_lookup(users: DataFrame, username: str) -> DataFrame:
    """SELECT user_id FROM users WHERE username = %s."""
    return users.filter(F.col("username") == username).select("user_id")


# -- J2 + P3 (interest_analyzer.py:124-129) --------------------------------
def following_profiles(
    following: DataFrame, users: DataFrame, user_id: str | None = None
) -> DataFrame:
    """Profiles of the accounts a user follows (edges -> vertices join).

    SELECT f.user_id, u.username, u.full_name, u.bio
    FROM following f JOIN users u ON f.following_id = u.user_id
    WHERE f.user_id = %s
    """
    edges = following
    if user_id is not None:
        edges = edges.filter(F.col("user_id") == user_id)
    # string-qualified aliases: callers may pass edge sets already derived
    # from `users`, so dataset-qualified refs would be ambiguous
    return (
        edges.alias("e")
        .join(users.alias("u"), F.col("e.following_id") == F.col("u.user_id"),
              "inner")
        .select(
            F.col("e.user_id").alias("user_id"),
            F.col("u.username").alias("username"),
            F.col("u.full_name").alias("full_name"),
            # P4: NULL bio -> '' (interest_analyzer.py:136)
            F.coalesce(F.col("u.bio"), F.lit("")).alias("bio"),
        )
    )


# -- J3 (interest_analyzer.py:291-298): pending-work anti-join -------------
def pending_users(
    users: DataFrame,
    scrape_jobs: DataFrame,
    interests: DataFrame,
    limit: int = 5,
) -> DataFrame:
    """Users whose 'following' scrape completed but who have no interests.

    The reference writes LEFT JOIN ... WHERE i.id IS NULL; Catalyst
    rewrites that to an anti-join — we write ``left_anti`` directly.
    LIMIT is made deterministic by ordering on the key first (the
    reference relied on PG scan order, which is unspecified anyway).
    """
    done = (
        scrape_jobs.filter(
            (F.col("job_type") == "following") & (F.col("status") == "completed")
        )
        .select(F.col("target_username").alias("username"))
        .dropDuplicates(["username"])
    )
    return (
        users.join(F.broadcast(done), "username", "inner")
        .join(interests.select("user_id").dropDuplicates(), "user_id", "left_anti")
        .orderBy("user_id")
        .limit(limit)
        .select("user_id", "username", "full_name", "bio")
    )


# -- J4 (interest_analyzer.py:101-102): dimension hierarchy self-join ------
def category_hierarchy(interest_categories: DataFrame) -> DataFrame:
    """Child categories joined to their parent (2-level, no recursion)."""
    child = interest_categories.alias("child")
    parent = interest_categories.alias("parent")
    return (
        child.filter(F.col("child.parent_category_id").isNotNull())
        .join(
            F.broadcast(parent),
            F.col("child.parent_category_id") == F.col("parent.category_id"),
            "inner",
        )
        .select(
            F.col("child.category_id").alias("category_id"),
            F.col("child.category_name").alias("category_name"),
            F.col("parent.category_name").alias("parent_name"),
        )
    )


# -- J5 (tests/test_scraper.py:239-245): 3-way verification join -----------
def user_interest_detail(
    interests: DataFrame, users: DataFrame, interest_categories: DataFrame,
    username: str,
) -> DataFrame:
    """(category_name, confidence_score) for one user via 3-way join."""
    return (
        interests.join(users, "user_id", "inner")
        .filter(F.col("username") == username)
        .join(F.broadcast(interest_categories), "category_id", "inner")
        .select("category_name", "confidence_score")
    )


# -- J6 (job_scheduler.py:126-133, tests): count-via-join gate ------------
def edge_count_for_user(edges: DataFrame, users: DataFrame, username: str,
                        edge_user_col: str = "user_id") -> int:
    """COUNT(*) of edges for a username, via join to users."""
    uid = users.filter(F.col("username") == username).select("user_id")
    return edges.join(
        F.broadcast(uid), edges[edge_user_col] == uid.user_id, "inner"
    ).count()


# -- P5 (job_scheduler.py:55-59): temporal + IN-list predicate -------------
def recent_jobs(scrape_jobs: DataFrame, username: str,
                now_expr: str = "current_timestamp()") -> DataFrame:
    """Jobs for a user, of the scrape types, started in the last 7 days.

    ``now_expr`` is injectable so tests/oracles can pin a fixed timestamp
    (SURVEY §7 risk 6 — CURRENT_TIMESTAMP breaks reproducibility).
    """
    return scrape_jobs.filter(
        (F.col("target_username") == username)
        & F.col("job_type").isin("profile", "followers", "following")
        & (F.col("started_at") > F.expr(f"{now_expr} - INTERVAL 7 DAYS"))
    )


# -- O1 (job_scheduler.py:95-101): FIFO dequeue ----------------------------
def dequeue_pending(scrape_jobs: DataFrame, batch_size: int) -> DataFrame:
    """Oldest pending jobs, FIFO by job_id — plans as top-k."""
    return (
        scrape_jobs.filter(F.col("status") == "pending")
        .orderBy("job_id")
        .limit(batch_size)
    )


# -- T7 (job_scheduler.py:124-148): completeness trigger, set-based --------
def both_complete_users(scrape_jobs: DataFrame) -> DataFrame:
    """G1: usernames whose 'followers' AND 'following' scrapes both
    completed — the mutuals trigger's completeness gate, one aggregation
    over the ledger instead of a count per dequeued row."""
    return (
        scrape_jobs.filter(
            (F.col("status") == "completed")
            & F.col("job_type").isin("followers", "following")
        )
        .groupBy("target_username")
        .agg(F.count_distinct("job_type").alias("n_types"))
        .filter(F.col("n_types") == 2)
        .select("target_username")
    )


# -- T3 (job_scheduler.py:29-47): daily quota, batch twin ------------------
def daily_quota_admission(events: DataFrame, quota: int) -> DataFrame:
    """Admit the first ``quota`` events per (user, day) in (ts, event_id)
    order; later events carry admitted=false (audit trail, not a drop).

    Batch twin of ``streaming.stateful.quota_gate``: the row_number window
    shuffles once on (user_id, day) — the same key the streaming state
    store partitions on."""
    day = F.to_date("ts")
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    return events.select(
        "user_id",
        "event_id",
        (F.row_number().over(w) <= quota).alias("admitted"),
    )


# -- G4 (interest_analyzer.py:115-119): tiny-dim materialization -----------
def category_map(interest_categories: DataFrame) -> dict[str, int]:
    """{category_name: category_id}; dims are tiny — driver collect is
    idiomatic (the same dict the reference builds)."""
    rows = interest_categories.select("category_name", "category_id").collect()
    return {r.category_name: r.category_id for r in rows}


# -- G5 (tests/test_scraper.py:144-157) ------------------------------------
def category_counts(interest_categories: DataFrame) -> DataFrame:
    """Main vs sub category counts."""
    return interest_categories.agg(
        F.count(F.when(F.col("parent_category_id").isNull(), 1)).alias("main_count"),
        F.count(F.when(F.col("parent_category_id").isNotNull(), 1)).alias("sub_count"),
    )

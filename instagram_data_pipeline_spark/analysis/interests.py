"""U2 + the analysis lifecycle: validate model output, map category names
to ids, and upsert into the interests fact table.

Reference: validation drop of unknown categories
(``interest_analyzer.py:268-270``), name->id mapping via the dimension
dict (``:115-119``), upsert with refreshed confidence (``:275-280``).
"""

from __future__ import annotations

import datetime as dt
import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import following_profiles, pending_users
from ..operators.writes import upsert_keep_newest
from ..schemas import INTEREST_CATEGORIES, INTERESTS
from .categorizer import (
    MAIN_CATEGORIES,
    SUBCATEGORIES,
    Categorizer,
    categorize_following,
)


def default_categories(spark) -> DataFrame:
    """The reference's seeded taxonomy (18 main + 9 sub categories,
    interest_analyzer.py:40-110) with stable surrogate ids."""
    rows = []
    ids = {}
    for i, name in enumerate(MAIN_CATEGORIES, start=1):
        ids[name] = i
        rows.append((i, name, None, f"{name} related content"))
    for j, (name, parent) in enumerate(
        sorted(SUBCATEGORIES.items()), start=len(MAIN_CATEGORIES) + 1
    ):
        rows.append((j, name, ids[parent], f"{name} (sub of {parent})"))
    return spark.createDataFrame(rows, INTEREST_CATEGORIES)


def validate_results(
    results: DataFrame,
    interest_categories: DataFrame,
) -> DataFrame:
    """U2: keep only known categories (inner join doubles as the P8
    filter) and default missing confidence to 0.5.

    ``results`` must already carry the analyzed (pending) user's
    ``user_id``: the reference's ``_store_interest_results``
    (interest_analyzer.py:257-280) keys every categorized row on the
    pending user's id — it never resolves the followed account's
    username back to an id. Output is interests-shaped (sans
    id/created_at).
    """
    cats = F.broadcast(
        interest_categories.select("category_id", "category_name")
    )
    return (
        results.withColumn(
            "confidence", F.coalesce(F.col("confidence"), F.lit(0.5))
        )
        .join(cats, results.category == cats.category_name, "inner")
        .select(
            "user_id",
            "category_id",
            F.col("confidence").alias("confidence_score"),
        )
    )


def _categorize_edges(
    users: DataFrame,
    edges: DataFrame,
    interest_categories: DataFrame,
    categorizer: Categorizer | None,
) -> DataFrame:
    """Shared J2 -> U1 -> U2 tail: categorize the followed profiles of
    ``edges`` and attribute each result back to EVERY analyzed user
    following that account (the reference analyzes per user; results are
    stored under the analyzed user's id, interest_analyzer.py:209,257-280).
    """
    followed = following_profiles(edges, users)
    owners = followed.select("user_id", "username").dropDuplicates()
    profiles = followed.drop("user_id").dropDuplicates(["username"])
    results = categorize_following(profiles, categorizer)
    attributed = results.join(owners, "username", "inner").drop("username")
    return validate_results(attributed, interest_categories)


def _upsert_interest_results(
    interests: DataFrame,
    validated: DataFrame,
    now: dt.datetime | None,
) -> tuple[DataFrame | None, int]:
    """A1 tail of _store_interest_results (interest_analyzer.py:257-280):
    collapse per-key collisions, preserve SERIAL ids across the upsert,
    mint fresh ids for new keys. Returns ``(merged, added)``: the merged
    interests table (``None`` when there is nothing to write) and the
    number of new keys. The model pass runs once, in ONE collect of the
    <= pending users x 27 category keys with prev id and table max."""
    # The reference's per-row ON CONFLICT keeps the last-processed result
    # when several followed accounts land in the same (user, category);
    # its scan order is unspecified, so collapse deterministically to the
    # max confidence per key.
    collapsed = validated.groupBy("user_id", "category_id").agg(
        F.max("confidence_score").alias("confidence_score")
    )
    # ON CONFLICT DO UPDATE preserves the row's SERIAL id
    prev_ids = interests.select(
        "user_id", "category_id", F.col("id").alias("_prev_id")
    )
    max_id = interests.agg(F.coalesce(F.max("id"), F.lit(0)).alias("_max_id"))
    rows = (
        collapsed.join(prev_ids, ["user_id", "category_id"], "left")
        .crossJoin(F.broadcast(max_id))
        .collect()
    )
    if not rows:
        return None, 0
    # new keys get dense ids above the table max in (user_id,
    # category_id) order (Python's str order is Spark's binary UTF-8 order)
    rows.sort(key=lambda r: (r.user_id, r.category_id))
    fresh = itertools.count(rows[0]._max_id + 1)
    now = now or dt.datetime(2024, 1, 1)
    incoming = interests.sparkSession.createDataFrame(
        [(next(fresh) if r._prev_id is None else r._prev_id, r.user_id,
          r.category_id, r.confidence_score, now) for r in rows],
        INTERESTS,
    )
    merged = upsert_keep_newest(
        interests,
        incoming,
        keys=["user_id", "category_id"],
        order_col="created_at",
    )
    return merged, sum(r._prev_id is None for r in rows)


def analyze_user_interests(
    users: DataFrame,
    following: DataFrame,
    interests: DataFrame,
    interest_categories: DataFrame,
    username: str,
    categorizer: Categorizer | None = None,
    now: dt.datetime | None = None,
) -> tuple[DataFrame | None, int]:
    """The reference's public per-user entry point
    (``analyze_user_interests``, interest_analyzer.py:140-214): no pending
    gate — re-analyzing a user refreshes confidences in place, preserving
    each row's surrogate id (ON CONFLICT DO UPDATE). Returns ``(merged,
    added)`` as ``_upsert_interest_results`` does."""
    target = users.filter(F.col("username") == username).select("user_id")
    edges = following.join(target, "user_id", "left_semi")
    validated = _categorize_edges(users, edges, interest_categories, categorizer)
    return _upsert_interest_results(interests, validated, now)


def analyze_pending_users(
    users: DataFrame,
    following: DataFrame,
    scrape_jobs: DataFrame,
    interests: DataFrame,
    interest_categories: DataFrame,
    categorizer: Categorizer | None = None,
    limit: int = 5,
    now: dt.datetime | None = None,
) -> tuple[DataFrame | None, int]:
    """The --mode analysis lifecycle (SURVEY §3.3): J3 pending anti-join
    -> J2 profile join -> U1 model batches -> U2 validation -> A1 upsert.
    Returns ``(merged, added)`` as ``_upsert_interest_results`` does;
    ``merged`` is ``None`` when nothing was pending or categorized."""
    pending = pending_users(users, scrape_jobs, interests, limit=limit)
    # set-based version of the reference's per-user loop
    # (interest_analyzer.py:285-315): all pending users' following edges
    # flow through ONE model pass — same semantics, one job
    edges = following.join(
        pending.select("user_id"), "user_id", "left_semi"
    )
    validated = _categorize_edges(users, edges, interest_categories, categorizer)
    return _upsert_interest_results(interests, validated, now)

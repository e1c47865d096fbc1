"""Write-pattern semantics (A1-A8): the ON CONFLICT guarantees, including
idempotency (run twice == run once) — SURVEY §5 rebuild strategy item 4."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from instagram_data_pipeline_spark.operators.writes import (
    assign_dense_ids,
    delete_matching,
    insert_if_absent,
    update_jobs,
    upsert_keep_newest,
)
from instagram_data_pipeline_spark.schemas import USERS
from instagram_data_pipeline_spark.testing import (
    fixture_jobs,
    fixture_users,
)

NEW_TS = dt.datetime(2024, 2, 1, 0, 0, 0)


def _incoming_users(spark):
    rows = [
        # updated bio for an existing user — must win (newest)
        ("12345", "instagram", "Instagram", "UPDATED BIO", None, 700, 120, False, NEW_TS),
        # brand-new user
        ("new_1", "newbie", "New User", None, None, 0, 0, False, NEW_TS),
    ]
    return spark.createDataFrame(rows, USERS)


def test_upsert_keep_newest_takes_incoming(spark):
    users = fixture_users(spark)
    out = upsert_keep_newest(
        users, _incoming_users(spark), keys=["user_id"], order_col="last_updated"
    )
    assert out.count() == users.count() + 1  # one insert, one update
    row = out.filter(F.col("user_id") == "12345").collect()[0]
    assert row.bio == "UPDATED BIO" and row.follower_count == 700


def test_upsert_incoming_wins_timestamp_tie(spark):
    users = fixture_users(spark)
    tied = users.filter(F.col("user_id") == "12345").withColumn(
        "bio", F.lit("TIED-UPDATE")
    )
    out = upsert_keep_newest(users, tied, keys=["user_id"], order_col="last_updated")
    row = out.filter(F.col("user_id") == "12345").collect()[0]
    assert row.bio == "TIED-UPDATE"  # the reference's UPDATE always overwrote


def test_upsert_idempotent(spark):
    users = fixture_users(spark)
    inc = _incoming_users(spark)
    once = upsert_keep_newest(users, inc, ["user_id"], "last_updated")
    twice = upsert_keep_newest(once, inc, ["user_id"], "last_updated")
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_insert_if_absent_only_new_keys(spark):
    users = fixture_users(spark)
    inc = _incoming_users(spark)
    new = insert_if_absent(users, inc, ["user_id"])
    assert [r.user_id for r in new.collect()] == ["new_1"]
    # idempotency: after appending, a rerun inserts nothing
    appended = users.unionByName(new)
    assert insert_if_absent(appended, inc, ["user_id"]).count() == 0


def test_insert_if_absent_collapses_batch_dupes(spark):
    users = fixture_users(spark)
    inc = _incoming_users(spark)
    dirty = inc.union(inc)
    assert insert_if_absent(users, dirty, ["user_id"]).count() == 1


def test_delete_matching(spark):
    users = fixture_users(spark)
    targets = users.filter(F.col("username") == "instagram")
    out = delete_matching(users, targets, ["user_id"])
    assert out.count() == users.count() - 1
    assert out.filter(F.col("username") == "instagram").count() == 0


def test_update_jobs_point_update(spark):
    jobs = fixture_jobs(spark)
    updates = spark.createDataFrame(
        [(5, "completed", 7, 7, NEW_TS)],
        "job_id long, status string, total_items int, processed_items int, "
        "completed_at timestamp",
    )
    out = update_jobs(jobs, updates)
    row = out.filter(F.col("job_id") == 5).collect()[0]
    assert row.status == "completed" and row.total_items == 7
    # all other rows untouched
    others = out.filter(F.col("job_id") != 5)
    orig = jobs.filter(F.col("job_id") != 5)
    assert sorted(map(tuple, others.collect())) == sorted(map(tuple, orig.collect()))


def test_assign_dense_ids(spark):
    jobs = fixture_jobs(spark).drop("job_id")
    out = assign_dense_ids(jobs, "job_id", order_by=["target_username", "job_type"])
    ids = sorted(r.job_id for r in out.collect())
    assert ids == list(range(1, len(ids) + 1))


def test_assign_dense_ids_refuses_fact_scale(spark):
    jobs = fixture_jobs(spark).drop("job_id")
    import pytest

    with pytest.raises(ValueError, match="single-partition"):
        assign_dense_ids(
            jobs, "job_id", order_by=["target_username"], max_rows=3
        )


def test_snapshot_diff_classifies_all_transitions(spark):
    from instagram_data_pipeline_spark.operators.writes import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, name string, bal double",
    )
    new = spark.createDataFrame(
        # 1 unchanged; 2 changed value; 3 NULL->value (changed);
        # 4 missing (removed); 5 added
        [(1, "a", 10.0), (2, "b", 25.0), (3, "c", 30.0), (5, "e", 50.0)],
        "k long, name string, bal double",
    )
    got = {r.k: r.change
           for r in snapshot_diff(old, new, keys=["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "changed",
                   4: "removed", 5: "added"}


def test_scd2_versions_and_replay_idempotence(spark):
    from instagram_data_pipeline_spark.operators.writes import scd2_apply

    hist0 = spark.createDataFrame(
        [(1, 10.0, "2024-01-01 00:00:00", None, True),
         (2, 20.0, "2024-01-01 00:00:00", None, True)],
        "k long, bal double, valid_from string, valid_to string, is_current boolean",
    ).selectExpr("k", "bal", "CAST(valid_from AS TIMESTAMP) valid_from",
                 "CAST(valid_to AS TIMESTAMP) valid_to", "is_current")
    snap = spark.createDataFrame(
        # 1 changed, 2 dropped, 3 added
        [(1, 15.0), (3, 30.0)], "k long, bal double"
    )
    h1 = scd2_apply(hist0, snap, ["k"], ["bal"], "2024-02-01 00:00:00")
    rows = {(r.k, r.bal, r.is_current): (str(r.valid_from), str(r.valid_to))
            for r in h1.collect()}
    # key 1: closed old version + open new one
    assert rows[(1, 10.0, False)] == ("2024-01-01 00:00:00", "2024-02-01 00:00:00")
    assert rows[(1, 15.0, True)][1] == "None"
    # key 2: closed, no successor; key 3: opened at t1
    assert rows[(2, 20.0, False)][1] == "2024-02-01 00:00:00"
    assert rows[(3, 30.0, True)][0] == "2024-02-01 00:00:00"
    assert len(rows) == 4

    # replaying the SAME snapshot at t2 must add nothing: every live key
    # is unchanged, closed rows pass through
    h2 = scd2_apply(h1, snap, ["k"], ["bal"], "2024-03-01 00:00:00")
    a = sorted(map(tuple, h1.collect()))
    b = sorted(map(tuple, h2.collect()))
    assert a == b


def test_incremental_agg_refresh_matches_recompute_and_retractions(spark):
    """Merge(old MV, delta partials) == recompute; retractions (negative
    partials) subtract cleanly; MV-only and delta-only keys both
    survive the full-outer merge."""
    from instagram_data_pipeline_spark.operators.writes import (
        incremental_agg_refresh,
    )

    old = spark.createDataFrame(
        [(1, 3, 30), (2, 1, 10)], "k long, n long, s long"
    )
    delta = spark.createDataFrame(
        [(2, 2, 25), (3, 1, 5), (1, -1, -10)], "k long, n long, s long"
    )
    got = {
        r.k: (r.n, r.s)
        for r in incremental_agg_refresh(
            old, delta, keys=["k"], add_cols=["n", "s"]
        ).collect()
    }
    assert got == {1: (2, 20), 2: (3, 35), 3: (1, 5)}

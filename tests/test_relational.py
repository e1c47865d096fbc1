"""Relational op library on reference-shaped fixtures (SURVEY §2.2-§2.6)."""

from __future__ import annotations

from instagram_data_pipeline_spark.operators.relational import (
    both_complete_users,
    category_counts,
    category_hierarchy,
    category_map,
    dequeue_pending,
    edge_count_for_user,
    following_profiles,
    key_lookup,
    pending_users,
    user_interest_detail,
)
from instagram_data_pipeline_spark.testing import (
    fixture_categories,
    fixture_edges,
    fixture_interests,
    fixture_jobs,
    fixture_users,
)


def test_key_lookup(spark):
    users = fixture_users(spark)
    assert [r.user_id for r in key_lookup(users, "instagram").collect()] == ["12345"]
    assert key_lookup(users, "nosuch").collect() == []


def test_following_profiles_coalesces_bio(spark):
    users = fixture_users(spark)
    _, following = fixture_edges(spark)
    rows = following_profiles(following, users, user_id="12345").collect()
    assert len(rows) == 4
    by_name = {r.username: r for r in rows}
    assert by_name["fan_one"].bio == ""  # NULL bio -> '' (P4)
    assert by_name["techguru"].bio.startswith("Software engineer")


def test_pending_users_anti_join(spark):
    users = fixture_users(spark)
    jobs = fixture_jobs(spark)
    interests = fixture_interests(spark)
    rows = pending_users(users, jobs, interests, limit=5).collect()
    # 'instagram' has completed following job + no interests -> pending;
    # 'lurker' has no completed following job; following_0/1 have interests
    assert [r.username for r in rows] == ["instagram"]


def test_category_hierarchy(spark):
    cats = fixture_categories(spark)
    rows = category_hierarchy(cats).collect()
    assert {(r.category_name, r.parent_name) for r in rows} == {
        ("Streetwear", "Fashion"),
        ("Luxury Fashion", "Fashion"),
        ("AI & Machine Learning", "Technology"),
        ("Programming", "Technology"),
        ("Football", "Sports"),
    }


def test_user_interest_detail(spark):
    detail = user_interest_detail(
        fixture_interests(spark), fixture_users(spark), fixture_categories(spark),
        "fashionaccount",
    ).collect()
    assert [(r.category_name, r.confidence_score) for r in detail] == [
        ("Fashion", 0.95)
    ]


def test_edge_and_job_counts(spark):
    users = fixture_users(spark)
    followers, _ = fixture_edges(spark)
    assert edge_count_for_user(followers, users, "instagram") == 3
    jobs = fixture_jobs(spark)
    done = {r.target_username for r in both_complete_users(jobs).collect()}
    assert "instagram" in done  # both types done
    assert "lurker" not in done  # only followers


def test_dequeue_fifo(spark):
    jobs = fixture_jobs(spark)
    got = [r.job_id for r in dequeue_pending(jobs, 2).collect()]
    assert got == [5, 6]  # oldest pending first


def test_category_map_and_counts(spark):
    cats = fixture_categories(spark)
    m = category_map(cats)
    assert m["Fashion"] == 1 and m["Programming"] == 8
    row = category_counts(cats).collect()[0]
    assert (row.main_count, row.sub_count) == (4, 5)

"""IO layer: warehouse DDL semantics, atomic overwrite, format roundtrips."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from instagram_data_pipeline_spark.io import (
    Warehouse,
    load_testdata,
    read_source,
    register_testdata_views,
    write_sink,
)
from instagram_data_pipeline_spark.schemas import TESTDATA_TABLES, USERS
from instagram_data_pipeline_spark.testing import fixture_users


def test_ensure_tables_idempotent(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.ensure_tables()
    users = fixture_users(spark)
    wh.overwrite_atomic("users", users)
    wh.ensure_tables()  # must NOT clobber existing data (IF NOT EXISTS)
    assert wh.read("users").count() == users.count()


def test_overwrite_atomic_self_read(spark, tmp_path):
    """A plan reading the table it overwrites must not race its input."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.ensure_tables()
    wh.overwrite_atomic("users", fixture_users(spark))
    current = wh.read("users").withColumn("follower_count", F.lit(1))
    wh.overwrite_atomic("users", current)  # derived from its own table
    assert wh.read("users").count() == fixture_users(spark).count()
    assert all(r.follower_count == 1 for r in wh.read("users").collect())


def test_overwrite_atomic_crash_between_renames_restores_old(
    spark, tmp_path
):
    """A crash after ``<table>`` -> ``<table>.old`` and before
    ``<table>.tmp`` -> ``<table>`` leaves the old table whole; building
    a Pipeline (ensure_tables) moves it back."""
    import os

    from instagram_data_pipeline_spark.plans.manual import Pipeline

    root = tmp_path / "wh"
    wh = Warehouse(spark, str(root))
    wh.ensure_tables()
    users = fixture_users(spark)
    wh.overwrite_atomic("users", users)
    assert not os.path.exists(wh.path("users") + ".old")
    os.rename(wh.path("users"), wh.path("users") + ".old")
    users.limit(1).write.parquet(wh.path("users") + ".tmp")  # stale stage
    pipe = Pipeline(spark, str(root))
    assert sorted(map(tuple, pipe.wh.read("users").collect())) == sorted(
        map(tuple, users.collect())
    )
    assert not os.path.exists(wh.path("users") + ".old")


def test_overwrite_atomic_failed_stage_keeps_table(spark, tmp_path):
    """A staged write that fails leaves the table's old contents in
    place and readable."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.ensure_tables()
    users = fixture_users(spark)
    wh.overwrite_atomic("users", users)
    boom = F.udf(lambda _: 1 // 0, "int")
    with pytest.raises(Exception):
        wh.overwrite_atomic(
            "users", wh.read("users").withColumn("follower_count", boom("bio"))
        )
    assert sorted(map(tuple, wh.read("users").collect())) == sorted(
        map(tuple, users.collect())
    )


def test_overwrite_atomic_failed_commit_rename_restores_old(
    spark, tmp_path, monkeypatch
):
    """When the commit rename ``<table>.tmp`` -> ``<table>`` fails, the
    old table is moved back at once and stays readable."""
    import os

    from instagram_data_pipeline_spark import io

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.ensure_tables()
    users = fixture_users(spark)
    wh.overwrite_atomic("users", users)
    rename = io._rename

    def failing_commit(fs, src, dst):
        if str(src).endswith(".tmp"):
            raise OSError("simulated failed commit rename")
        rename(fs, src, dst)

    monkeypatch.setattr(io, "_rename", failing_commit)
    with pytest.raises(OSError):
        wh.overwrite_atomic("users", users.limit(1))
    assert sorted(map(tuple, wh.read("users").collect())) == sorted(
        map(tuple, users.collect())
    )
    assert not os.path.exists(wh.path("users") + ".old")


@pytest.mark.parametrize("fmt", ["parquet", "json", "csv", "orc"])
def test_format_roundtrip(spark, tmp_path, fmt):
    users = fixture_users(spark).select(
        "user_id", "username", "follower_count", "is_private"
    )
    path = str(tmp_path / f"out_{fmt}")
    write_sink(users, path, fmt=fmt)
    back = read_source(spark, path, fmt=fmt, schema=users.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, users.collect()))


def test_jdbc_sink_requires_connection_options(spark):
    df = fixture_users(spark).select("user_id", "username")
    with pytest.raises(ValueError, match="jdbc sink requires"):
        write_sink(df, fmt="jdbc")  # no url/dbtable injected


def test_jdbc_sink_reaches_real_datasource(spark):
    """No JDBC driver ships in this sandbox; the sink must still be wired
    to Spark's real JDBC datasource — proven by the driver-resolution
    failure coming back from the JVM, not from our code."""
    df = fixture_users(spark).select("user_id", "username")
    with pytest.raises(Exception, match="(?i)driver|jdbc"):
        write_sink(
            df,
            fmt="jdbc",
            url="jdbc:postgresql://localhost:5432/nope",
            dbtable="users",
        )


def test_jdbc_batch_sink_double_and_replay(spark):
    """Contract test with an injected executor (the driverless double):
    batches arrive once each; replayed epochs are skipped."""
    from instagram_data_pipeline_spark.io import JdbcBatchSink

    seen = []
    sink = JdbcBatchSink(execute=lambda df, epoch: seen.append(
        (epoch, sorted(r.user_id for r in df.collect()))
    ))
    batch = fixture_users(spark).select("user_id")
    sink(batch, 0)
    sink(batch, 0)  # at-least-once replay -> skipped
    sink(batch.limit(2), 1)
    assert [e for e, _ in seen] == [0, 1]
    assert len(seen[0][1]) == fixture_users(spark).count()
    with pytest.raises(ValueError, match="url\\+table or an execute"):
        JdbcBatchSink()


def test_register_views_sql_access(spark, sf_dir):
    register_testdata_views(spark, sf_dir)
    n = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0].n
    assert n == load_testdata(spark, sf_dir, "lineitem").count()
    assert set(TESTDATA_TABLES) <= {
        t.name for t in spark.catalog.listTables()
    }


# ---------------------------------------------------------------------------
# A1 MERGE on the transaction log: keep-newest semantics,
# crash-atomic commits and time travel. A Warehouse built without a
# format merges through the same log.
# ---------------------------------------------------------------------------


def _merge_scenario(spark, wh):
    import datetime as dt

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(200)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, keys=["k"], order_col="ts",
                          num_buckets=8)
    incoming = spark.createDataFrame(
        [(7, "new", t1), (9999, "fresh", t1), (7, "older-dup", t0)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", incoming, keys=["k"], order_col="ts",
                          num_buckets=8)
    return incoming


@pytest.mark.parametrize("backend", ["txlog", "default"])
def test_merge_semantics_identical_across_formats(spark, tmp_path, backend):
    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat() if backend == "txlog" else None
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    assert isinstance(wh.fmt, TransactionLogFormat)
    incoming = _merge_scenario(spark, wh)
    assert wh.fmt.versions(wh, "facts") == [1, 2]
    got = {r.k: r.v for r in wh.read_merged("facts").collect()}
    assert len(got) == 201
    assert got[7] == "new"  # newest wins, in-batch dup loses
    assert got[9999] == "fresh" and got[0] == "old"
    # idempotent: replaying the same batch changes nothing
    wh.upsert_partitioned("facts", incoming, keys=["k"], order_col="ts",
                          num_buckets=8)
    again = {r.k: r.v for r in wh.read_merged("facts").collect()}
    assert again == got


def test_txlog_untouched_files_carried_by_reference(spark, tmp_path):
    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    _merge_scenario(spark, wh)
    v1, v2 = (fmt.read_version(wh, "facts", v) for v in (1, 2))
    import json as _json
    from pathlib import Path as _P

    logs = sorted((_P(wh.path("facts")) / "_txlog").glob("*.json"))
    snaps = [_json.loads(p.read_text()) for p in logs]
    assert [s["version"] for s in snaps] == [1, 2]
    # untouched buckets: version 2 references version 1's exact files
    touched = {b for f, b in snaps[1]["files"].items()
               if f not in snaps[0]["files"]}
    for f, b in snaps[0]["files"].items():
        if b not in touched:
            assert snaps[1]["files"][f] == b
        else:
            assert f not in snaps[1]["files"]  # replaced, not mutated
    # time travel: v1 still reads the pre-merge state
    assert {r.v for r in v1.collect()} == {"old"}
    assert {r.k: r.v for r in v2.collect()}[7] == "new"


def test_txlog_crash_before_commit_is_invisible(spark, tmp_path, dying_publish):
    """The manifest rename is the commit point: a crash after data files
    are written but before the publish leaves the previous version
    intact, readers see nothing, and the retry lands cleanly."""
    import datetime as dt

    fmt = dying_publish
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(50)], "k long, v string, ts timestamp"
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=4)
    incoming = spark.createDataFrame(
        [(3, "new", t1)], "k long, v string, ts timestamp"
    )
    fmt.armed = True
    with pytest.raises(OSError):
        wh.upsert_partitioned("facts", incoming, ["k"], "ts", num_buckets=4)
    # previous version fully intact; orphaned data files invisible
    assert {r.v for r in wh.read_merged("facts").collect()} == {"old"}
    assert fmt.versions(wh, "facts") == [1]
    # retry commits cleanly
    wh.upsert_partitioned("facts", incoming, ["k"], "ts", num_buckets=4)
    got = {r.k: r.v for r in wh.read_merged("facts").collect()}
    assert got[3] == "new" and len(got) == 50
    assert fmt.versions(wh, "facts") == [1, 2]
    # vacuum removes exactly the crashed commit's orphans; every
    # published version still reads in full afterward
    deleted = fmt.vacuum(wh, "facts", grace_seconds=0.0)
    assert deleted  # the aborted merge left unreferenced files
    assert fmt.vacuum(wh, "facts", grace_seconds=0.0) == []  # idempotent
    assert {r.v for r in fmt.read_version(wh, "facts", 1).collect()} == {
        "old"
    }
    assert {r.k: r.v for r in wh.read_merged("facts").collect()} == got


def test_txlog_additive_schema_evolution(spark, tmp_path):
    """A later merge may ADD columns: old files null-fill under the new
    recorded schema, time travel keeps each version's own schema, and
    drops/type changes are rejected."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(20)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=4)
    widened = spark.createDataFrame(
        [(3, "new", t1, 0.9), (100, "fresh", t1, 0.5)],
        "k long, v string, ts timestamp, score double",
    )
    wh.upsert_partitioned("facts", widened, ["k"], "ts", num_buckets=4)
    got = {r.k: (r.v, r.score) for r in wh.read_merged("facts").collect()}
    assert got[3] == ("new", 0.9) and got[100] == ("fresh", 0.5)
    # rows in untouched buckets never rewrote, yet read back null-filled
    untouched = [k for k in got if k not in (3, 100)]
    assert untouched and all(got[k] == ("old", None) for k in untouched)
    # time travel: version 1 keeps its original 3-column schema
    assert fmt.read_version(wh, "facts", 1).columns == ["k", "v", "ts"]
    # dropping a column is rejected
    with pytest.raises(ValueError, match="additive-only"):
        wh.upsert_partitioned(
            "facts",
            spark.createDataFrame([(1, t1)], "k long, ts timestamp"),
            ["k"], "ts", num_buckets=4,
        )
    # changing a column's type is rejected
    with pytest.raises(ValueError, match="change types"):
        wh.upsert_partitioned(
            "facts",
            spark.createDataFrame(
                [(1, 2, t1, 0.1)], "k long, v long, ts timestamp, score double"
            ),
            ["k"], "ts", num_buckets=4,
        )


def test_txlog_vacuum_liveset_checkpoint(spark, tmp_path):
    """The vacuum live-set checkpoint (round 13, VERDICT r12 #7):
    vacuum caches the union-of-referenced-files through the newest
    version at the table root, so the next vacuum unions only NEWER
    manifests instead of re-walking all of history. Correctness over
    convenience: commits published after the checkpoint are still
    protected (the warm path tops the union up), and expiring
    manifests invalidates the checkpoint (vmin moved) so the rebuild
    never resurrects an expired reference."""
    import datetime as dt
    import json as _json
    from pathlib import Path

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0 = dt.datetime(2024, 1, 1)

    def mk(lo, hi, tag):
        return spark.createDataFrame(
            [(i, tag, t0) for i in range(lo, hi)],
            "k long, v string, ts timestamp",
        )

    wh.upsert_partitioned("facts", mk(0, 20, "a"), ["k"], "ts",
                          num_buckets=4)
    ckpt = Path(wh.path("facts")) / "_liveset.json"
    assert fmt.vacuum(wh, "facts", grace_seconds=0.0) == []
    assert ckpt.exists()
    c1 = _json.load(open(ckpt))
    assert (c1["vmin"], c1["vmax"]) == (1, 1)
    assert set(c1["files"]) == set(
        fmt._latest(wh, "facts")["files"]
    )

    # a commit AFTER the checkpoint: the warm vacuum must union it in
    # (its fresh files are referenced — deleting them would corrupt v2)
    wh.upsert_partitioned("facts", mk(0, 5, "b"), ["k"], "ts",
                          num_buckets=4)
    assert fmt.vacuum(wh, "facts", grace_seconds=0.0) == []
    c2 = _json.load(open(ckpt))
    assert c2["vmax"] == 2
    assert set(fmt._latest(wh, "facts")["files"]) <= set(c2["files"])
    # every version still reads in full after the warm vacuum
    assert fmt.read_version(wh, "facts", 1).count() == 20
    assert fmt.read_version(wh, "facts", 2).count() == 20

    # expiry invalidates: vmin moves, the rebuilt checkpoint covers
    # only survivors, and their files all survive the reclaim
    expired, deleted = fmt.expire_versions(
        wh, "facts", keep_last=1, grace_seconds=0.0
    )
    assert expired == [1] and deleted  # v1-only files reclaimed
    c3 = _json.load(open(ckpt))
    assert (c3["vmin"], c3["vmax"]) == (2, 2)
    assert fmt.read_merged(wh, "facts").count() == 20

    # a corrupt checkpoint is advisory: vacuum rebuilds, deletes nothing
    ckpt.write_text("{not json")
    assert fmt.vacuum(wh, "facts", grace_seconds=0.0) == []
    assert _json.load(open(ckpt))["vmax"] == 2
    assert fmt.read_merged(wh, "facts").count() == 20


def test_txlog_restore_to_preconstraint_version_carries_policy(
    spark, tmp_path
):
    """RESTORE to a version whose manifest predates constraint
    recording (no ``constraints`` key — the pre-r12 shape, whose
    governing sidecar the first ADD CONSTRAINT migration deleted) must
    carry the CURRENT effective set instead of publishing neither key
    nor sidecar, which silently reset policy to {} (ADVICE r12).
    Policy-over-future-writes survives the rollback, like txns."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0 = dt.datetime(2024, 1, 1)
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, float(i), t0) for i in range(lo, hi)],
        "k long, v double, ts timestamp",
    )
    wh.upsert_partitioned("facts", mk(0, 10), ["k"], "ts", num_buckets=4)
    wh.upsert_partitioned("facts", mk(10, 12), ["k"], "ts", num_buckets=4)
    # v1/v2 predate constraint recording: no manifest key
    import json as _json

    with open(fmt._log_dir(wh, "facts") / "00000001.json") as f:
        assert "constraints" not in _json.load(f)
    v, n = fmt.add_constraint(wh, "facts", "v_pos", "v >= 0")
    assert (v, n) == (3, 1)

    published = fmt.restore_version(wh, "facts", 1)
    assert published["version"] == 4
    # the effective set survived the rollback — and is enforced
    assert fmt._constraints_of(
        fmt._latest(wh, "facts"), wh.path("facts")
    ) == {"v_pos": "v >= 0"}
    bad = spark.createDataFrame(
        [(99, -1.0, t0)], "k long, v double, ts timestamp"
    )
    with pytest.raises(ValueError, match="v_pos"):
        wh.upsert_partitioned("facts", bad, ["k"], "ts", num_buckets=4)
    # data-plane rollback still exact
    assert wh.read_merged("facts").count() == 10

    # restoring to a version that RECORDS a set still reverts to it
    # (here: v3's {v_pos}; then drop + restore-to-post-drop resets)
    fmt.drop_constraint(wh, "facts", "v_pos")  # v5
    published = fmt.restore_version(wh, "facts", 3)  # v6: set reverts
    assert published["constraints"] == {"v_pos": "v >= 0"}


def test_txlog_replace_where_schema_evolution(spark, tmp_path):
    """``replace_where`` holds the SAME additive-only evolution rule as
    the merge path (ADVICE r12 medium): a replacement batch missing a
    table column — or retyping one — is refused BEFORE any write,
    because untouched buckets' carried files still hold the old column
    and publishing the narrower schema would silently drop it from
    latest-version reads. Widening (new column) stays allowed: carried
    rows null-fill, exactly like a merge."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0 = dt.datetime(2024, 1, 1)
    base = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b", float(i), t0) for i in range(20)],
        "k long, grp string, v double, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=4)

    # narrowing: replacement missing the ts column is refused up front
    narrow = spark.createDataFrame(
        [(0, "a", 100.0)], "k long, grp string, v double"
    )
    with pytest.raises(ValueError, match="additive-only"):
        fmt.replace_where(wh, "facts", "grp = 'a'", narrow, ["k"], 4)
    # retyping: v double -> v long is refused
    retyped = spark.createDataFrame(
        [(0, "a", 7, t0)], "k long, grp string, v long, ts timestamp"
    )
    with pytest.raises(ValueError, match="change types"):
        fmt.replace_where(wh, "facts", "grp = 'a'", retyped, ["k"], 4)
    # the refusals published nothing and dropped nothing
    assert fmt.versions(wh, "facts") == [1]
    assert wh.read_merged("facts").columns == ["k", "grp", "v", "ts"]

    # widening still works: carried rows in untouched buckets null-fill
    widened = spark.createDataFrame(
        [(0, "a", 100.0, t0, "x")],
        "k long, grp string, v double, ts timestamp, note string",
    )
    n_rep, n_ins = fmt.replace_where(
        wh, "facts", "grp = 'a' AND k < 2", widened, ["k"], 4
    )
    assert (n_rep, n_ins) == (1, 1)
    got = {r.k: (r.v, r.note) for r in wh.read_merged("facts").collect()}
    assert got[0] == (100.0, "x")
    assert len(got) == 20 and got[2] == (2.0, None)


class _RacingPublish:
    """Mixin-style format: runs a competitor callback once, right
    before this writer's first manifest publish — deterministically
    simulating a concurrent commit landing between this writer's data
    write and its CAS."""

    def __init__(self):
        self.competitor = None
        self.publishes = 0

    def _publish(
        self, wh, table, version, files, schema_json=None, rows=None,
        stats=None, **extra,
    ):
        self.publishes += 1
        if self.competitor is not None:
            c, self.competitor = self.competitor, None
            c()
        from instagram_data_pipeline_spark.formats import (
            TransactionLogFormat,
        )

        TransactionLogFormat._publish(
            self, wh, table, version, files, schema_json, rows=rows,
            stats=stats, **extra,
        )


def _two_buckets(spark):
    """Two keys landing in different buckets of 4 (pure function of
    key; computed, not assumed)."""
    import pyspark.sql.functions as F

    rows = spark.range(0, 50).select(
        "id", F.pmod(F.xxhash64("id"), 4).cast("int").alias("b")
    ).collect()
    by_b = {}
    for r in rows:
        by_b.setdefault(r.b, r.id)
        if len(by_b) >= 2:
            break
    (b1, k1), (b2, k2) = list(by_b.items())[:2]
    assert b1 != b2
    return k1, k2


def test_txlog_two_writers_disjoint_buckets_rebase(spark, tmp_path):
    """VERDICT r4 #6: two concurrent merges touching DISJOINT buckets
    — the loser detects the CAS conflict, rebases its already-written
    files over the winner's snapshot, and re-publishes. Both writers'
    rows survive; history is linear."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    class Fmt(_RacingPublish, TransactionLogFormat):
        pass

    fmt = Fmt()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    k_a, k_b = _two_buckets(spark)
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(20)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=4)

    plain = TransactionLogFormat()

    def competitor():
        b_batch = spark.createDataFrame(
            [(k_b, "from_b", t1)], "k long, v string, ts timestamp"
        )
        plain.merge(wh, "facts", b_batch, ["k"], "ts", 4)

    fmt.competitor = competitor
    a_batch = spark.createDataFrame(
        [(k_a, "from_a", t1)], "k long, v string, ts timestamp"
    )
    wh.upsert_partitioned("facts", a_batch, ["k"], "ts", num_buckets=4)

    got = {r.k: r.v for r in wh.read_merged("facts").collect()}
    assert got[k_a] == "from_a" and got[k_b] == "from_b"
    assert fmt.versions(wh, "facts") == [1, 2, 3]  # linear history
    assert fmt.publishes >= 2  # A's first CAS lost, second landed
    # the rebase preserved the winner's files for A-untouched buckets
    import json as _json
    from pathlib import Path as _P

    logs = {
        int(p.stem): _json.loads(p.read_text())
        for p in (_P(wh.path("facts")) / "_txlog").glob("*.json")
    }
    b_files = {
        f for f, b in logs[2]["files"].items()
        if f not in logs[1]["files"]
    }
    assert b_files <= set(logs[3]["files"])  # B's commit carried forward


def test_txlog_two_writers_same_bucket_redo(spark, tmp_path):
    """Concurrent merges into the SAME bucket: the loser's merge read
    stale inputs, so it must redo from the winning snapshot — newest
    row per key still wins, nothing is lost, history is linear."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    class Fmt(_RacingPublish, TransactionLogFormat):
        pass

    fmt = Fmt()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0, t1, t2 = (
        dt.datetime(2024, 1, 1),
        dt.datetime(2024, 2, 1),
        dt.datetime(2024, 3, 1),
    )
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(20)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=4)

    plain = TransactionLogFormat()

    def competitor():
        b_batch = spark.createDataFrame(
            [(7, "from_b", t2), (8, "b_only", t1)],
            "k long, v string, ts timestamp",
        )
        plain.merge(wh, "facts", b_batch, ["k"], "ts", 4)

    fmt.competitor = competitor
    # A touches key 7 too, with an OLDER ts than B's — after A's redo
    # the keep-newest rule must preserve B's row for 7
    a_batch = spark.createDataFrame(
        [(7, "from_a", t1), (9, "a_only", t1)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", a_batch, ["k"], "ts", num_buckets=4)

    got = {r.k: r.v for r in wh.read_merged("facts").collect()}
    assert got[7] == "from_b"  # newest wins across BOTH writers
    assert got[8] == "b_only" and got[9] == "a_only"
    assert got[0] == "old" and len(got) == 20  # 8 and 9 were in base
    assert fmt.versions(wh, "facts") == [1, 2, 3]
    # the abandoned first attempt left orphans; vacuum reclaims them
    # and every version still reads
    assert fmt.vacuum(wh, "facts", grace_seconds=0.0)
    assert {r.k: r.v for r in wh.read_merged("facts").collect()} == got


def test_txlog_expire_versions_retention(spark, tmp_path):
    """expire_versions drops old manifests first, then reclaims files
    only they referenced; surviving versions read unchanged and shared
    (carried-forward) files survive."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t = [dt.datetime(2024, 1, d + 1) for d in range(4)]
    base = spark.createDataFrame(
        [(i, "v0", t[0]) for i in range(40)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=4)
    for n in range(1, 3):  # two more merges -> versions 1,2,3
        batch = spark.createDataFrame(
            [(n, f"v{n}", t[n])], "k long, v string, ts timestamp"
        )
        wh.upsert_partitioned("facts", batch, ["k"], "ts", num_buckets=4)
    assert fmt.versions(wh, "facts") == [1, 2, 3]
    before = {r.k: r.v for r in wh.read_merged("facts").collect()}

    expired, deleted = fmt.expire_versions(
        wh, "facts", keep_last=2, grace_seconds=0.0
    )
    assert expired == [1]
    assert fmt.versions(wh, "facts") == [2, 3]
    # latest read identical; older surviving version still time-travels
    assert {r.k: r.v for r in wh.read_merged("facts").collect()} == before
    assert {r.k: r.v for r in fmt.read_version(wh, "facts", 2).collect()}[
        1
    ] == "v1"
    # v1-only files are gone, but files v1 shared with v2/v3 survive;
    # idempotent re-run is a no-op
    assert fmt.expire_versions(
        wh, "facts", keep_last=2, grace_seconds=0.0
    ) == ([], [])
    # deleted files really were exclusive to the expired version: every
    # surviving manifest still reads in full (checked above), and the
    # expired version is unreadable now
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        fmt.read_version(wh, "facts", 1)
    assert isinstance(deleted, list)


def test_txlog_vacuum_grace_protects_inflight_writer(spark, tmp_path):
    """A concurrent writer between _write_commit and manifest publish has
    unreferenced-but-live files; vacuum's mtime grace window must skip
    them (deleting them would let the CAS publish commit an unreadable
    version — ADVICE r5 #1). Aged-out true orphans are still reclaimed."""
    import datetime as dt
    import os
    import time
    from pathlib import Path

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    base = spark.createDataFrame(
        [(i, "old", dt.datetime(2024, 1, 1)) for i in range(10)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=4)
    root = Path(wh.path("facts"))
    # simulate the in-flight writer: fresh data files, no manifest yet
    inflight = root / "data" / "commit-inflight" / "part-0.parquet"
    inflight.parent.mkdir(parents=True)
    inflight.write_bytes(b"PAR1fake")
    # and a stale orphan from a long-dead crashed commit
    stale = root / "data" / "commit-crashed" / "part-0.parquet"
    stale.parent.mkdir(parents=True)
    stale.write_bytes(b"PAR1fake")
    old = time.time() - 7200
    os.utime(stale, (old, old))

    deleted = fmt.vacuum(wh, "facts")  # default 1h grace
    rels = set(deleted)
    assert str(stale.relative_to(root)) in rels  # aged orphan reclaimed
    assert inflight.exists()  # in-flight writer's files survive
    # after quiescence (grace waived) the leftover orphan is reclaimed
    assert fmt.vacuum(wh, "facts", grace_seconds=0.0) == [
        str(inflight.relative_to(root))
    ]


def test_txlog_read_for_keys_prunes_buckets(spark, tmp_path):
    """Point lookups read only the buckets the keys hash to (manifest
    as index) and return exactly the requested live rows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(100)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=8)
    upd = spark.createDataFrame(
        [(7, "new", t1)], "k long, v string, ts timestamp"
    )
    wh.upsert_partitioned("facts", upd, ["k"], "ts", num_buckets=8)

    key_rows = spark.createDataFrame([(7,), (13,), (99999,)], "k long")
    got = fmt.read_for_keys(wh, "facts", ["k"], key_rows, num_buckets=8)
    rows = {r.k: r.v for r in got.collect()}
    assert rows == {7: "new", 13: "old"}  # merged view; absent key omitted
    # pruning is real: the scoped scan reads strictly fewer files than
    # the full snapshot (at most the wanted buckets)
    n_scan_files = len(got.inputFiles())
    n_all_files = len(fmt.read_merged(wh, "facts").inputFiles())
    assert 0 < n_scan_files < n_all_files
    # equals the semi-join over the full table
    expect = (
        fmt.read_merged(wh, "facts")
        .join(F.broadcast(key_rows), ["k"], "semi")
        .collect()
    )
    assert {r.k: r.v for r in expect} == rows


def test_txlog_count_rows_metadata_only(spark, tmp_path):
    """COUNT served from the manifest's footer stats: equals the data
    count after merges, per-version counts match time travel, and a
    pre-stats manifest (no "rows" key) falls back to reading footers."""
    import datetime as dt
    import json as _json

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(50)], "k long, v string, ts timestamp"
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=4)
    assert fmt.count_rows(wh, "facts") == 50
    # merge: 10 updates + 5 inserts -> 55 distinct keys
    incoming = spark.createDataFrame(
        [(i, "new", t1) for i in range(40, 55)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", incoming, ["k"], "ts", num_buckets=4)
    assert fmt.count_rows(wh, "facts") == 55
    assert fmt.count_rows(wh, "facts") == fmt.read_merged(wh, "facts").count()
    # time travel count pins to the version
    assert fmt.count_rows(wh, "facts", version=1) == 50
    # pre-stats manifest: strip "rows" -> footer fallback, same answer
    log = tmp_path / "wh" / "facts" / "_txlog" / "00000002.json"
    m = _json.loads(log.read_text())
    del m["rows"]
    log.write_text(_json.dumps(m))
    assert fmt.count_rows(wh, "facts") == 55


def test_txlog_zonemap_range_scan_prunes_files(spark, tmp_path):
    """Zone maps end-to-end: a cluster_col layout (rows sorted by ts
    inside each bucket, multiple small files per bucket) must let
    read_for_range open STRICTLY fewer files than the snapshot holds,
    and the pruned read must equal the plain filter exactly — absent
    stats degrade to unprunable, never to dropped rows."""
    import datetime as dt

    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat(cluster_col="ts", max_records_per_file=50)
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    base = dt.datetime(2024, 1, 1)
    # ts DECORRELATED from k (37 coprime to 800): the write path must
    # actively cluster by ts — insertion/key order must not be what
    # makes the zone maps narrow
    rows = [
        (i, f"v{i}", base + dt.timedelta(hours=(i * 37) % 800))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "k long, v string, ts timestamp")
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=4)

    snap = fmt._latest(wh, "facts")
    assert "stats" in snap and len(snap["stats"]) == len(snap["files"])
    # every file must carry a ts zone map under the clustered layout
    assert all("ts" in s for s in snap["stats"].values())
    # >1 file per bucket (maxRecordsPerFile split), so pruning has
    # something to drop
    assert len(snap["files"]) > 4

    lo = base + dt.timedelta(hours=100)
    hi = base + dt.timedelta(hours=150)
    keep = fmt.files_for_range(snap, "ts", lo, hi)
    assert 0 < len(keep) < len(snap["files"])  # strictly fewer files

    got = sorted(
        map(tuple, fmt.read_for_range(wh, "facts", "ts", lo, hi)
            .select("k", "v", "ts").collect())
    )
    want = sorted(
        map(tuple, fmt.read_merged(wh, "facts")
            .filter(F.col("ts").between(F.lit(lo), F.lit(hi)))
            .select("k", "v", "ts").collect())
    )
    assert got == want and len(got) == 51  # inclusive bounds

    # conservative fallback: a file with NO recorded stats for the
    # column must always survive pruning
    snap2 = dict(snap)
    snap2["stats"] = dict(snap["stats"])
    victim = next(iter(snap2["stats"]))
    snap2["stats"][victim] = {}
    keep2 = fmt.files_for_range(snap2, "ts", lo, hi)
    assert victim in keep2 and set(keep) <= set(keep2)


def test_txlog_zonemap_stats_carried_across_merges(spark, tmp_path):
    """A second merge touching a subset of buckets must carry the
    untouched files' zone maps forward by reference (same relpath, same
    stats), and the new files must get fresh stats."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat(cluster_col="ts", max_records_per_file=50)
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0 = dt.datetime(2024, 1, 1)
    b1 = spark.createDataFrame(
        [(i, "a", t0 + dt.timedelta(hours=i)) for i in range(200)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", b1, ["k"], "ts", num_buckets=4)
    v1 = fmt._latest(wh, "facts")
    # one key -> touches exactly one bucket
    b2 = spark.createDataFrame(
        [(7, "b", t0 + dt.timedelta(days=365))],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", b2, ["k"], "ts", num_buckets=4)
    v2 = fmt._latest(wh, "facts")
    carried = set(v1["files"]) & set(v2["files"])
    assert carried  # untouched buckets rode along by reference
    for f in carried:
        assert v2["stats"][f] == v1["stats"][f]
    fresh = set(v2["files"]) - set(v1["files"])
    assert fresh and all(f in v2["stats"] for f in fresh)


def test_txlog_compact_reduces_files_preserves_answers(spark, tmp_path):
    """Compaction is layout-only: after several merges accumulate many
    small files, compact() must strictly reduce the live file count,
    keep the table contents byte-identical, keep zone maps for the new
    files, and leave every OLD version readable (time travel intact)."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat(cluster_col="ts", max_records_per_file=40)
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0 = dt.datetime(2024, 1, 1)

    def batch(lo, hi):
        return spark.createDataFrame(
            [(i, f"v{i}", t0 + dt.timedelta(hours=(i * 37) % 500))
             for i in range(lo, hi)],
            "k long, v string, ts timestamp",
        )

    for lo in range(0, 500, 100):  # 5 merges -> many small files
        wh.upsert_partitioned(
            "facts", batch(lo, lo + 100), ["k"], "ts", num_buckets=4
        )
    before_snap = fmt._latest(wh, "facts")
    want = sorted(map(tuple, fmt.read_merged(wh, "facts").collect()))

    compactor = TransactionLogFormat(cluster_col="ts")  # unbounded files
    n_before, n_after = compactor.compact(
        wh, "facts", ["k"], num_buckets=4
    )
    assert n_after < n_before
    after_snap = compactor._latest(wh, "facts")
    assert after_snap["version"] == before_snap["version"] + 1
    assert len(after_snap["files"]) < len(before_snap["files"])
    assert len(after_snap["files"]) == 4  # one file per bucket
    got = sorted(map(tuple, compactor.read_merged(wh, "facts").collect()))
    assert got == want
    # zone maps recomputed for the rewritten files
    assert all(
        "ts" in after_snap["stats"][f] for f in after_snap["files"]
    )
    # the pre-compaction version is still fully readable
    old = compactor.read_version(wh, "facts", before_snap["version"])
    assert sorted(map(tuple, old.collect())) == want
    # idempotence: nothing left >= min_files, second compact is a no-op
    n2_before, n2_after = compactor.compact(
        wh, "facts", ["k"], num_buckets=4
    )
    assert n2_before == n2_after == 4


def test_txlog_zorder_box_scan_prunes_every_dimension(spark, tmp_path):
    """Z-order layout end-to-end: with zorder_cols=(x, y) — the two
    dims DECORRELATED from each other and from insertion order — the
    manifest zone maps must prune files on EITHER dimension alone AND
    strictly tighter on the conjunctive box, while a single-column
    cluster_col=x layout prunes nothing on y. The box read must equal
    the plain two-predicate filter exactly."""
    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    # x and y walk coprime strides: neither correlates with k or with
    # the other, so only an actual multi-dim clustering can narrow both
    rows = [(i, (i * 37) % 1000, (i * 211) % 1000) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, x long, y long")

    zfmt = TransactionLogFormat(
        zorder_cols=["x", "y"], max_records_per_file=64
    )
    zwh = Warehouse(spark, str(tmp_path / "z"), fmt=zfmt)
    zwh.upsert_partitioned("facts", df, ["k"], "x", num_buckets=4)
    snap = zfmt._latest(zwh, "facts")
    total = len(snap["files"])
    assert total > 8  # maxRecordsPerFile split gave pruning targets

    box = {"x": (100, 260), "y": (100, 260)}
    keep_x = zfmt.files_for_range(snap, "x", *box["x"])
    keep_y = zfmt.files_for_range(snap, "y", *box["y"])
    keep_box = zfmt.files_for_box(snap, box)
    # every dimension prunes by itself under the Z-curve...
    assert len(keep_x) < total and len(keep_y) < total
    # ...and the box intersection is strictly tighter than either leg
    assert 0 < len(keep_box) < min(len(keep_x), len(keep_y))

    got = sorted(
        map(tuple, zfmt.read_for_box(zwh, "facts", box)
            .select("k", "x", "y").collect())
    )
    want = sorted(
        map(tuple, zfmt.read_merged(zwh, "facts")
            .filter(F.col("x").between(100, 260)
                    & F.col("y").between(100, 260))
            .select("k", "x", "y").collect())
    )
    assert got == want and len(got) > 0

    # control: single-column cluster on x narrows x but leaves y
    # hash-mixed — y-only pruning drops nothing
    cfmt = TransactionLogFormat(cluster_col="x", max_records_per_file=64)
    cwh = Warehouse(spark, str(tmp_path / "c"), fmt=cfmt)
    cwh.upsert_partitioned("facts", df, ["k"], "x", num_buckets=4)
    csnap = cfmt._latest(cwh, "facts")
    assert len(cfmt.files_for_range(csnap, "y", *box["y"])) == len(
        csnap["files"]
    )
    # and the same box prunes strictly fewer files than Z-order does
    assert len(cfmt.files_for_box(csnap, box)) > len(keep_box)


def test_txlog_zorder_validation_and_null_dimension(spark, tmp_path):
    import pytest as _pytest

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    with _pytest.raises(ValueError):
        TransactionLogFormat(cluster_col="x", zorder_cols=["x", "y"])
    with _pytest.raises(ValueError):
        TransactionLogFormat(zorder_cols=["x"])

    # an all-NULL dimension can't be quantized: layout degrades to
    # plain (no crash), answers stay exact
    fmt = TransactionLogFormat(zorder_cols=["x", "y"])
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, id % 7 AS x, CAST(NULL AS LONG) AS y "
        "FROM range(100)"
    )
    wh.upsert_partitioned("facts", df, ["k"], "x", num_buckets=2)
    assert fmt.read_merged(wh, "facts").count() == 100


def test_txlog_minmax_stats_metadata_only(spark, tmp_path):
    """MIN/MAX aggregate pushdown: manifest answer == scan answer for
    numeric and timestamp columns, pinned per version, surviving a
    pre-stats manifest (footer fallback) and an all-NULL column (file
    scan fallback); strings are refused (truncatable footer bounds)."""
    import datetime as dt
    import json as _json

    import pytest as _pytest

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    base = dt.datetime(2024, 3, 1)

    def mk(lo, n):
        rows = [
            (i, float((i * 13) % 97), f"s{i}",
             base + dt.timedelta(minutes=i), None)
            for i in range(lo, lo + n)
        ]
        return spark.createDataFrame(
            rows, "k long, v double, s string, ts timestamp, w long"
        )

    wh.upsert_partitioned("facts", mk(0, 500), ["k"], "ts", num_buckets=4)
    wh.upsert_partitioned("facts", mk(400, 300), ["k"], "ts", num_buckets=4)

    got = fmt.minmax_stats(wh, "facts", ["k", "v", "ts", "w"])
    assert got["k"] == (0, 699)
    assert got["v"] == (0.0, 96.0)
    # timestamps come back as ISO strings (order-preserving keys; the
    # footer yields tz-aware UTC datetimes, so the offset rides along)
    utc = dt.timezone.utc
    assert got["ts"] == (
        base.replace(tzinfo=utc).isoformat(),
        (base + dt.timedelta(minutes=699)).replace(tzinfo=utc).isoformat(),
    )
    # all-NULL column: exact SQL semantics via the per-file scan path
    assert got["w"] == (None, None)
    # version pinning: v1 covers only the first batch
    assert fmt.minmax_stats(wh, "facts", ["k"], version=1)["k"] == (0, 499)
    # strings refused — footer bounds may be truncated, not attained
    with _pytest.raises(TypeError):
        fmt.minmax_stats(wh, "facts", ["s"])

    # pre-stats manifest: strip "stats" entirely -> footer fallback,
    # identical answers without a data scan path change
    log = sorted((tmp_path / "wh" / "facts" / "_txlog").glob("*.json"))[-1]
    m = _json.loads(log.read_text())
    del m["stats"]
    log.write_text(_json.dumps(m))
    got2 = fmt.minmax_stats(wh, "facts", ["k", "v"])
    assert got2["k"] == (0, 699) and got2["v"] == (0.0, 96.0)


def test_txlog_delete_keys_targeted_erasure(spark, tmp_path):
    """delete_keys rewrites ONLY the buckets the keys hash to (others
    carried by reference), returns the exact deleted-row count from
    manifest arithmetic, serves the post-delete state immediately, and
    keeps the pre-delete version readable until retention expires it."""
    from instagram_data_pipeline_spark.formats import (
        TransactionLogFormat, bucket_expr,
    )
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id * 1.5 AS DOUBLE) AS v, "
        "TIMESTAMP '2024-01-01' + make_interval(0,0,0,0,0,CAST(id AS INT),0)"
        " AS ts FROM range(400)"
    )
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=8)

    # victims confined to the buckets they hash to
    victims = spark.sql("SELECT id AS k FROM range(0, 400, 7)")  # 58 keys
    n_victim_buckets = (
        victims.select(bucket_expr(["k"], 8).alias("b"))
        .distinct().count()
    )
    snap1 = fmt._latest(wh, "facts")
    deleted = fmt.delete_keys(wh, "facts", ["k"], victims, num_buckets=8)
    assert deleted == 58
    snap2 = fmt._latest(wh, "facts")
    assert snap2["version"] == snap1["version"] + 1
    # untouched buckets: same relpaths carried by reference; rewritten
    # ones are exactly the victims' buckets
    carried = set(snap1["files"]) & set(snap2["files"])
    touched_buckets = {
        snap1["files"][f] for f in set(snap1["files"]) - carried
    }
    assert touched_buckets == {
        r.b for r in victims.select(
            bucket_expr(["k"], 8).alias("b")).distinct().collect()
    }
    assert len(touched_buckets) == n_victim_buckets
    # served state: victims gone, everyone else intact
    got = fmt.read_merged(wh, "facts")
    assert got.count() == 400 - 58
    assert got.filter("k % 7 = 0").count() == 0
    # time travel still serves the pre-delete state (until expiry)
    assert fmt.read_version(wh, "facts", snap1["version"]).count() == 400
    # metadata count agrees
    assert fmt.count_rows(wh, "facts") == 342
    # no-op delete: keys that don't exist
    ghosts = spark.sql("SELECT id + 10000 AS k FROM range(5)")
    assert fmt.delete_keys(wh, "facts", ["k"], ghosts, num_buckets=8) == 0
    # bulk path: broadcast_keys=False (shuffled anti-join), same answer
    more = spark.sql("SELECT id AS k FROM range(1, 400, 11)")  # 37 keys
    survivors = 400 - 58
    hit = 37 - 5  # range(1,400,11) ∩ range(0,400,7) = 5 keys already gone
    assert fmt.delete_keys(
        wh, "facts", ["k"], more, num_buckets=8, broadcast_keys=False
    ) == hit
    assert fmt.count_rows(wh, "facts") == survivors - hit


def test_txlog_changes_between_scopes_to_changed_buckets(spark, tmp_path):
    """changes_between emits Delta-CDF-style rows (insert / delete /
    update pre+post, unchanged rows silent) and reads ONLY the buckets
    whose file sets differ between the two manifests."""
    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    read_file_counts = []

    class Spy(TransactionLogFormat):
        def _read_snapshot(self, wh, root, snap):  # noqa: N805
            read_file_counts.append(len(snap["files"]))
            return TransactionLogFormat._read_snapshot(wh, root, snap)

    fmt = Spy()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    base = spark.sql(
        "SELECT id AS k, CAST(id AS DOUBLE) AS v, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(200)"
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=8)
    v1 = fmt._latest(wh, "facts")["version"]

    # second merge: 3 updates (new v, later ts), 2 no-op re-writes
    # (identical rows), 2 inserts — all confined to a few buckets
    batch2 = spark.sql(
        "SELECT CAST(k AS BIGINT) AS k, v, ts FROM VALUES "
        "(3, CAST(999 AS DOUBLE), TIMESTAMP '2024-02-01'),"
        "(14, CAST(998 AS DOUBLE), TIMESTAMP '2024-02-01'),"
        "(25, CAST(997 AS DOUBLE), TIMESTAMP '2024-02-01'),"
        "(40, CAST(40 AS DOUBLE), TIMESTAMP '2024-01-01'),"
        "(41, CAST(41 AS DOUBLE), TIMESTAMP '2024-01-01'),"
        "(500, CAST(500 AS DOUBLE), TIMESTAMP '2024-02-01'),"
        "(501, CAST(501 AS DOUBLE), TIMESTAMP '2024-02-01')"
        " AS t(k, v, ts)"
    )
    wh.upsert_partitioned("facts", batch2, ["k"], "ts", num_buckets=8)
    # third version: delete two keys (one just-updated, one untouched)
    fmt.delete_keys(
        wh, "facts", ["k"],
        spark.sql("SELECT CAST(k AS BIGINT) AS k FROM VALUES (25), (100) AS t(k)"),
        num_buckets=8,
    )
    v3 = fmt._latest(wh, "facts")["version"]
    snap3 = fmt._latest(wh, "facts")

    read_file_counts.clear()
    feed = fmt.changes_between(wh, "facts", ["k"], v1, v3)
    rows = {
        (r._change_type, r.k): (r.v, r.ts) for r in feed.collect()
    }
    # scoping: both snapshot reads saw fewer files than the full table
    assert len(read_file_counts) == 2
    assert all(0 < n < len(snap3["files"]) for n in read_file_counts)

    kinds = {}
    for (t, k) in rows:
        kinds.setdefault(t, set()).add(k)
    assert kinds["insert"] == {500, 501}
    assert kinds["delete"] == {25, 100}  # updated-then-deleted = delete
    assert kinds["update_preimage"] == kinds["update_postimage"] == {3, 14}
    # no-op re-writes (40, 41) and untouched keys emit nothing
    assert all(k not in {40, 41} for (_, k) in rows)
    # images carry the right values
    assert rows[("update_preimage", 3)][0] == 3.0
    assert rows[("update_postimage", 3)][0] == 999.0
    assert rows[("delete", 100)][0] == 100.0
    assert rows[("insert", 500)][0] == 500.0


def test_txlog_bloom_point_lookup_prunes_files(spark, tmp_path):
    """Manifest bloom index: a point lookup on a non-key, non-clustered
    column opens only the files whose bloom may contain the probe;
    absent blooms keep files conservatively; non-equality-safe types
    are refused at write time."""
    import json as _json

    import pytest as _pytest

    from instagram_data_pipeline_spark.formats import (
        BLOOM_KEY, TransactionLogFormat,
    )
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat(
        bloom_cols=["fp"], bloom_bits=4096, max_records_per_file=64
    )
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, concat('fp-', md5(CAST(id AS STRING))) AS fp, "
        "CAST(id AS DOUBLE) AS v, TIMESTAMP '2024-01-01' AS ts "
        "FROM range(1000)"
    )
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=8)
    snap = fmt._latest(wh, "facts")
    total = len(snap["files"])
    assert total >= 16  # several files per bucket: pruning targets
    assert all(
        "fp" in s.get(BLOOM_KEY, {}) for s in snap["stats"].values()
    )

    probe = df.filter("k = 37").select("fp").first().fp
    keep = fmt.files_for_value(snap, "fp", probe)
    # unique value -> 1 true file + bloom false positives (few at
    # 4096 bits / 7 hashes / 64 values per file)
    assert 1 <= len(keep) <= 4, (len(keep), total)
    got = fmt.read_for_value(wh, "facts", "fp", probe).collect()
    assert [r.k for r in got] == [37]

    # a value nowhere in the table: pruning may drop every file and
    # the read must still answer (empty) correctly
    assert fmt.read_for_value(wh, "facts", "fp", "fp-nope").count() == 0

    # conservative fallback: a file with no bloom always survives
    victim = next(iter(snap["stats"]))
    snap2 = _json.loads(_json.dumps(snap))
    snap2["stats"][victim].pop(BLOOM_KEY, None)
    keep2 = fmt.files_for_value(snap2, "fp", probe)
    assert victim in keep2 and set(keep) <= set(keep2)

    # integer bloom columns work; float ones are refused
    ifmt = TransactionLogFormat(bloom_cols=["k2"], bloom_bits=4096)
    iwh = Warehouse(spark, str(tmp_path / "iwh"), fmt=ifmt)
    idf = spark.sql(
        "SELECT id AS k, id * 7 AS k2, TIMESTAMP '2024-01-01' AS ts "
        "FROM range(100)"
    )
    iwh.upsert_partitioned("facts", idf, ["k"], "ts", num_buckets=2)
    isnap = ifmt._latest(iwh, "facts")
    assert len(ifmt.files_for_value(isnap, "k2", 7 * 41)) >= 1
    assert [r.k for r in
            ifmt.read_for_value(iwh, "facts", "k2", 7 * 41).collect()
            ] == [41]

    ffmt = TransactionLogFormat(bloom_cols=["v"])
    fwh = Warehouse(spark, str(tmp_path / "fwh"), fmt=ffmt)
    with _pytest.raises(TypeError, match="integer/string"):
        fwh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=2)


def test_txlog_compact_with_zorder_recusters(spark, tmp_path):
    """OPTIMIZE ZORDER: compacting with a zorder_cols compactor
    re-clusters fragmented hash-mixed files into Z-curve boxes — the
    box prune must strictly improve after the rewrite."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    plain = TransactionLogFormat(max_records_per_file=64)
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=plain)
    rows = [(i, (i * 37) % 1000, (i * 211) % 1000) for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, x long, y long")
    wh.upsert_partitioned("facts", df, ["k"], "x", num_buckets=4)
    snap = plain._latest(wh, "facts")
    box = {"x": (100, 260), "y": (100, 260)}
    before_keep = len(plain.files_for_box(snap, box))
    before_total = len(snap["files"])

    zc = TransactionLogFormat(
        zorder_cols=["x", "y"], max_records_per_file=64
    )
    n_before, n_after = zc.compact(wh, "facts", ["k"], 4, min_files=1)
    snap2 = zc._latest(wh, "facts")
    after_keep = len(zc.files_for_box(snap2, box))
    # hash-mixed files overlapped nearly everything; boxes don't
    assert after_keep < before_keep or before_keep == before_total
    assert after_keep < len(snap2["files"])
    got = sorted(map(tuple, zc.read_for_box(wh, "facts", box).collect()))
    import pyspark.sql.functions as F

    want = sorted(map(tuple, zc.read_merged(wh, "facts").filter(
        F.col("x").between(100, 260) & F.col("y").between(100, 260)
    ).collect()))
    assert got == want


def test_txlog_delete_races_merge_disjoint_rebase(spark, tmp_path):
    """delete_keys vs a concurrent merge into a DIFFERENT bucket: the
    delete loses the CAS, rebases its already-written files over the
    winner, and both effects land — linear history, exact count."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    class Fmt(_RacingPublish, TransactionLogFormat):
        pass

    fmt = Fmt()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    k_a, k_b = _two_buckets(spark)
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(20)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=4)

    plain = TransactionLogFormat()

    def competitor():
        plain.merge(
            wh, "facts",
            spark.createDataFrame(
                [(k_b, "from_b", t1)], "k long, v string, ts timestamp"
            ),
            ["k"], "ts", 4,
        )

    fmt.publishes = 0
    fmt.competitor = competitor
    victims = spark.createDataFrame([(k_a,)], "k long")
    deleted = fmt.delete_keys(wh, "facts", ["k"], victims, num_buckets=4)
    assert deleted == 1
    got = {r.k: r.v for r in fmt.read_merged(wh, "facts").collect()}
    assert k_a not in got and got[k_b] == "from_b"
    # 20 base rows, minus the victim, plus k_b only if it was new
    assert len(got) == 20 - 1 + (0 if k_b < 20 else 1)
    assert fmt.versions(wh, "facts") == [1, 2, 3]


def test_txlog_delete_races_merge_same_bucket_redo(spark, tmp_path):
    """delete_keys vs a concurrent merge into the SAME bucket: the
    delete's read was stale, so it must REDO from the winner — the
    merged-in row survives, the victim still dies, count exact."""
    import datetime as dt

    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    class Fmt(_RacingPublish, TransactionLogFormat):
        pass

    # victim from the base range and a NEW key hashing to its bucket
    rows = spark.range(0, 2000).select(
        "id", F.pmod(F.xxhash64("id"), 4).cast("int").alias("b")
    ).collect()
    bucket_of = {r.id: r.b for r in rows}
    k_victim = 7
    k_new = next(
        i for i in range(1000, 2000)
        if bucket_of[i] == bucket_of[k_victim]
    )

    fmt = Fmt()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(20)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=4)

    plain = TransactionLogFormat()

    def competitor():
        plain.merge(
            wh, "facts",
            spark.createDataFrame(
                [(k_new, "new", t1)], "k long, v string, ts timestamp"
            ),
            ["k"], "ts", 4,
        )

    fmt.publishes = 0
    fmt.competitor = competitor
    deleted = fmt.delete_keys(
        wh, "facts", ["k"],
        spark.createDataFrame([(k_victim,)], "k long"), num_buckets=4,
    )
    assert deleted == 1
    got = {r.k: r.v for r in fmt.read_merged(wh, "facts").collect()}
    assert k_victim not in got and got[k_new] == "new"
    assert len(got) == 20  # 20 base - 1 victim + 1 merged-in new key
    assert fmt.versions(wh, "facts") == [1, 2, 3]
    assert fmt.count_rows(wh, "facts") == 20


def test_txlog_bloom_k_persisted_across_reader_configs(spark, tmp_path):
    """ADVICE r7 #1: the bloom hash count k is persisted per bitmap in
    the manifest, so a table written with a NON-default k probes
    correctly through a default-configured format instance and through
    format('txlog') — no false negatives (pruned files containing the
    probed value), only the usual false-positive extra opens."""
    from instagram_data_pipeline_spark.formats import (
        BLOOM_KEY, TransactionLogFormat,
    )
    from instagram_data_pipeline_spark.io import Warehouse

    writer = TransactionLogFormat(
        bloom_cols=["fp"], bloom_bits=4096, bloom_hashes=3,
        max_records_per_file=64,
    )
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=writer)
    df = spark.sql(
        "SELECT id AS k, concat('fp-', md5(CAST(id AS STRING))) AS fp, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(1000)"
    )
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=8)
    snap = writer._latest(wh, "facts")
    entry = next(iter(snap["stats"].values()))[BLOOM_KEY]["fp"]
    assert entry["k"] == 3  # the writer's k rides the manifest

    probes = [df.filter(f"k = {k}").select("fp").first().fp
              for k in (0, 37, 613)]
    # a DEFAULT-configured reader (bloom_hashes=7) must still find
    # every probed value — and still prune (not fall back to keep-all)
    reader = TransactionLogFormat(bloom_cols=["fp"], bloom_bits=4096)
    for probe in probes:
        keep = reader.files_for_value(snap, "fp", probe)
        assert 1 <= len(keep) < len(snap["files"])
        got = reader.read_for_value(wh, "facts", "fp", probe).collect()
        assert len(got) == 1 and got[0].fp == probe

    # the Python DataSource (previously hard-coded k=7) as well
    from instagram_data_pipeline_spark.sources.txlog_source import (
        TxlogDataSource,
    )

    spark.dataSource.register(TxlogDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    via_ds = (
        spark.read.format("txlog").load(str(tmp_path / "wh" / "facts"))
        .filter(F.col("fp") == probes[1])
        .collect()
    )
    assert len(via_ds) == 1 and via_ds[0].fp == probes[1]


def test_txlog_date_bound_on_timestamp_stats_midnight_boundary(
    spark, tmp_path
):
    """ADVICE r7 #3: a datetime.date range bound against timestamp
    zone-map stats must not prune the file whose min/max is exactly
    midnight — date keys normalize to the midnight-datetime ISO form,
    keeping both forms mutually order-consistent."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import (
        TransactionLogFormat, _stat_key,
    )
    from instagram_data_pipeline_spark.io import Warehouse

    # the two forms of the same instant must now compare EQUAL
    assert _stat_key(dt.date(1995, 3, 31)) == _stat_key(
        dt.datetime(1995, 3, 31)
    )

    fmt = TransactionLogFormat(cluster_col="ts", max_records_per_file=8)
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    rows = [
        (i, dt.datetime(1995, 3, 28) + dt.timedelta(hours=12 * i))
        for i in range(16)
    ]  # row 6 lands exactly on 1995-03-31 00:00:00
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=1)

    lo = dt.date(1995, 3, 31)
    hi = dt.date(1995, 4, 2)
    got = fmt.read_for_range(wh, "facts", "ts", lo, hi).collect()
    want = [r for r in rows
            if dt.datetime(1995, 3, 31) <= r[1] <= dt.datetime(1995, 4, 2)]
    assert sorted(r.k for r in got) == sorted(r[0] for r in want)
    assert dt.datetime(1995, 3, 31) in {r.ts for r in got}


def test_txlog_delete_count_exact_on_legacy_rows_manifest(
    spark, tmp_path
):
    """ADVICE r7 #2: when a replaced file predates per-file row counts
    (legacy manifest), delete_keys computes its 'before' count from
    just the replaced files' parquet footers — never a whole-table
    version diff that a concurrent disjoint winner could pollute."""
    import json as _json

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id AS STRING) AS v, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(40)"
    )
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=4)
    # forge a legacy manifest: strip the per-file row counts
    log = sorted((tmp_path / "wh" / "facts" / "_txlog").glob("*.json"))[-1]
    m = _json.loads(log.read_text())
    del m["rows"]
    log.write_text(_json.dumps(m))

    victims = spark.createDataFrame([(3,), (17,), (99,)], "k long")
    deleted = fmt.delete_keys(wh, "facts", ["k"], victims, num_buckets=4)
    assert deleted == 2  # k=99 never existed
    left = {r.k for r in fmt.read_merged(wh, "facts").collect()}
    assert left == set(range(40)) - {3, 17}


def test_txlog_rename_column_metadata_only_with_time_travel(
    spark, tmp_path
):
    """Column-mapping RENAME (VERDICT r7 Next #4): metadata-only — the
    new version carries every data file by reference — new merges use
    the new logical name against the ORIGINAL physical bytes, old
    snapshots still read under their pre-rename names, and zone-map /
    bloom pruning keeps working through the mapping."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat(bloom_cols=["tag"], bloom_bits=4096)
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id AS DOUBLE) AS score, "
        "concat('t', CAST(id AS STRING)) AS tag, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(200)"
    )
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=4)
    files_v1 = fmt._latest(wh, "facts")["files"]

    v = fmt.rename_column(wh, "facts", "score", "quality")
    assert v == 2
    snap = fmt._latest(wh, "facts")
    # metadata-only: identical file set, field kept id AND physical name
    assert snap["files"] == files_v1
    fld = next(f for f in snap["fields"] if f["name"] == "quality")
    assert fld["phys"] == "score"

    # reads serve the new logical name from the old physical bytes
    cur = fmt.read_merged(wh, "facts")
    assert cur.columns == ["k", "quality", "tag", "ts"]
    assert cur.filter("k = 7").first().quality == 7.0
    # time travel: version 1 still answers under the OLD name
    old = fmt.read_version(wh, "facts", 1)
    assert old.columns == ["k", "score", "tag", "ts"]
    assert old.filter("k = 7").first().score == 7.0

    # merges speak the new name; old files' bytes still join in
    up = spark.sql(
        "SELECT id AS k, CAST(id * 10 AS DOUBLE) AS quality, "
        "concat('t', CAST(id AS STRING)) AS tag, "
        "TIMESTAMP '2024-02-01' AS ts FROM range(190, 210)"
    )
    wh.upsert_partitioned("facts", up, ["k"], "ts", num_buckets=4)
    cur = fmt.read_merged(wh, "facts")
    assert cur.count() == 210
    assert cur.filter("k = 195").first().quality == 1950.0
    assert cur.filter("k = 7").first().quality == 7.0

    # a merge still carrying the OLD name is rejected with the pointer
    stale = df.limit(1)
    with pytest.raises(ValueError, match="rename_column"):
        wh.upsert_partitioned("facts", stale, ["k"], "ts", num_buckets=4)

    # pruning surfaces translate logical -> physical: a range beyond
    # every file's stats must drop ALL files — a broken translation
    # would find no stats under the logical name and conservatively
    # keep everything instead
    snap = fmt._latest(wh, "facts")
    assert fmt.files_for_range(snap, "quality", 5000.0, 6000.0) == []
    got = fmt.read_for_range(wh, "facts", "quality", 2000.0, 2090.0)
    assert sorted(r.k for r in got.collect()) == list(range(200, 210))
    probe = fmt.read_for_value(wh, "facts", "tag", "t42")
    assert [r.k for r in probe.collect()] == [42]


def test_txlog_drop_column_tombstones_physical_name(spark, tmp_path):
    """Column-mapping DROP: metadata-only, and the dropped field's
    physical name stays tombstoned — re-adding the same logical name
    creates a FRESH physical column, so rows written before the drop
    serve NULL (never the old bytes) while time travel still reads
    the pre-drop values."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, 'secret' AS v, TIMESTAMP '2024-01-01' AS ts "
        "FROM range(50)"
    )
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=2)
    files_v1 = fmt._latest(wh, "facts")["files"]

    fmt.drop_column(wh, "facts", "v")
    snap = fmt._latest(wh, "facts")
    assert snap["files"] == files_v1  # zero data files touched
    assert fmt.read_merged(wh, "facts").columns == ["k", "ts"]
    assert [f["name"] for f in snap["dropped_fields"]] == ["v"]

    # re-add the same logical name
    up = spark.sql(
        "SELECT id AS k, TIMESTAMP '2024-02-01' AS ts, 'fresh' AS v "
        "FROM range(45, 55)"
    )
    wh.upsert_partitioned("facts", up, ["k"], "ts", num_buckets=2)
    snap = fmt._latest(wh, "facts")
    fld = next(f for f in snap["fields"] if f["name"] == "v")
    assert fld["phys"] != "v"  # fresh physical name, tombstone reserved
    cur = fmt.read_merged(wh, "facts")
    by_k = {r.k: r.v for r in cur.collect()}
    assert by_k[48] == "fresh" and by_k[10] is None  # no resurrection
    # history: version 1 still serves the dropped values
    assert fmt.read_version(wh, "facts", 1).filter(
        "k = 10"
    ).first().v == "secret"
    # guards
    with pytest.raises(ValueError, match="no column"):
        fmt.drop_column(wh, "facts", "nope")
    with pytest.raises(ValueError, match="already exists"):
        fmt.rename_column(wh, "facts", "v", "ts")


def test_txlog_delete_keys_dv_zero_file_merge_on_read(spark, tmp_path):
    """Deletion vectors (VERDICT r7 Next #5): a DV point delete touches
    ZERO data files, serves hash-identical answers to the copy-on-write
    delete_keys path, counts exactly (re-deletes are no-ops), survives
    merges on other buckets, and compact materializes the DVs away."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    def build(path, deleter):
        fmt = TransactionLogFormat()
        wh = Warehouse(spark, path, fmt=fmt)
        df = spark.sql(
            "SELECT id AS k, CAST(id AS STRING) AS v, "
            "TIMESTAMP '2024-01-01' AS ts FROM range(300)"
        )
        wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=4)
        victims = spark.createDataFrame(
            [(7,), (13,), (250,)], "k long"
        )
        n = deleter(fmt, wh, victims)
        return fmt, wh, n

    fmt_dv, wh_dv, n_dv = build(
        str(tmp_path / "dv"),
        lambda f, w, v: f.delete_keys_dv(w, "facts", ["k"], v, 4),
    )
    fmt_cow, wh_cow, n_cow = build(
        str(tmp_path / "cow"),
        lambda f, w, v: f.delete_keys(w, "facts", ["k"], v, 4),
    )
    assert n_dv == n_cow == 3

    # zero data files rewritten on the DV path
    assert (
        fmt_dv._snap_at(wh_dv, "facts", 2)["files"]
        == fmt_dv._snap_at(wh_dv, "facts", 1)["files"]
    )
    # identical answers across the two delete strategies
    a = sorted(map(tuple, fmt_dv.read_merged(wh_dv, "facts").collect()))
    b = sorted(map(tuple, fmt_cow.read_merged(wh_cow, "facts").collect()))
    assert a == b and len(a) == 297
    assert fmt_dv.count_rows(wh_dv, "facts") == 297

    # re-delete: counted no-op; overlapping batch: only new rows count
    victims = spark.createDataFrame([(7,), (13,)], "k long")
    assert fmt_dv.delete_keys_dv(wh_dv, "facts", ["k"], victims, 4) == 0
    more = spark.createDataFrame([(7,), (99,)], "k long")
    assert fmt_dv.delete_keys_dv(wh_dv, "facts", ["k"], more, 4) == 1
    assert fmt_dv.count_rows(wh_dv, "facts") == 296

    # a merge rewriting a DV'd bucket must not resurrect deleted rows,
    # and sheds the materialized DV entries for replaced files
    up = spark.sql(
        "SELECT id AS k, 'upd' AS v, TIMESTAMP '2024-03-01' AS ts "
        "FROM range(295, 305)"
    )
    wh_dv.upsert_partitioned("facts", up, ["k"], "ts", num_buckets=4)
    cur = fmt_dv.read_merged(wh_dv, "facts")
    assert cur.filter("k in (7, 13, 99, 250)").count() == 0
    assert cur.count() == 301  # 296 + 5 new (300..304)

    # compact materializes every remaining DV away; answers unchanged
    before = sorted(map(tuple, cur.collect()))
    fmt_dv.compact(wh_dv, "facts", ["k"], num_buckets=4, min_files=10**9)
    snap = fmt_dv._latest(wh_dv, "facts")
    assert not snap.get("dv")
    after = sorted(
        map(tuple, fmt_dv.read_merged(wh_dv, "facts").collect())
    )
    assert after == before
    assert fmt_dv.count_rows(wh_dv, "facts") == 301


def test_txlog_dv_race_merge_same_bucket_redo(spark, tmp_path):
    """A deletion vector added by a CONCURRENT writer to a bucket this
    merge is rewriting counts as an overlap: the merge must redo from
    the winning snapshot (else the DV'd row would resurrect through
    the rewrite)."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    class Racing(TransactionLogFormat):
        def __init__(self):
            self.competitor = None

        def _publish(
            self, wh, table, version, files, schema_json=None, rows=None,
            stats=None, **extra,
        ):
            if self.competitor is not None:
                c, self.competitor = self.competitor, None
                c()
            TransactionLogFormat._publish(
                self, wh, table, version, files, schema_json, rows=rows,
                stats=stats, **extra,
            )

    fmt = Racing()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    t0 = dt.datetime(2024, 1, 1)
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(40)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", base, ["k"], "ts", num_buckets=1)

    plain = TransactionLogFormat()
    k_victim = 11

    def competitor():
        plain.delete_keys_dv(
            wh, "facts", ["k"],
            spark.createDataFrame([(k_victim,)], "k long"),
            num_buckets=1,
        )

    fmt.competitor = competitor
    up = spark.createDataFrame(
        [(0, "new", dt.datetime(2024, 2, 1))],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", up, ["k"], "ts", num_buckets=1)
    got = {r.k: r.v for r in fmt.read_merged(wh, "facts").collect()}
    assert k_victim not in got  # the concurrent DV delete held
    assert got[0] == "new" and len(got) == 39
    assert fmt.count_rows(wh, "facts") == 39


def test_txlog_zorder_equidepth_prunes_under_power_law(spark, tmp_path):
    """Equi-depth Z-order ranks (VERDICT r7 Next #7): on a
    heavy-tailed column, LINEAR min/max ranks collapse the dense value
    region into ONE Morton code (the outlier stretches the range), so
    the layout silently degenerates to single-axis clustering on the
    other column and an x range scan prunes nothing; quantile-bucket
    ranks keep every code ~equal row count, restoring pruning on BOTH
    dimensions. Both layouts must return exactly the plain-filter
    answer."""
    import pyspark.sql.functions as F

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    # x: dense mass in [0, 10^4) plus a few 10^12 outliers — the
    # heavy-tail shape where linear ranks truly collapse: the 16-bit
    # bucket width becomes 10^12/2^16 ~ 1.5e7, so EVERY dense row
    # shares rank 0 and x carries zero clustering information;
    # y: decorrelated uniform
    rows = [
        (i, (i * 37) % 10000 if i % 1000 else 10**12, (i * 211) % 1000)
        for i in range(4000)
    ]
    df = spark.createDataFrame(rows, "k long, x long, y long")
    box = {"x": (2000, 3000), "y": (100, 260)}

    def build(path, equidepth):
        fmt = TransactionLogFormat(
            zorder_cols=["x", "y"], max_records_per_file=64,
            zorder_equidepth=equidepth,
        )
        wh = Warehouse(spark, path, fmt=fmt)
        wh.upsert_partitioned("facts", df, ["k"], "x", num_buckets=4)
        return fmt, wh, fmt._latest(wh, "facts")

    lin_fmt, lin_wh, lin_snap = build(str(tmp_path / "lin"), False)
    eq_fmt, eq_wh, eq_snap = build(str(tmp_path / "eq"), True)
    total_lin, total_eq = len(lin_snap["files"]), len(eq_snap["files"])
    assert total_lin > 8 and total_eq > 8

    # THE degradation: under linear ranks every dense x collapses to
    # rank 0, the Morton key degenerates to pure-y clustering, and an
    # x range scan in the dense region prunes NOTHING
    keep_x_lin = lin_fmt.files_for_range(lin_snap, "x", *box["x"])
    assert len(keep_x_lin) == total_lin
    # equi-depth restores x pruning (quantile ranks spread the dense
    # region over the code space) while the conjunctive box stays
    # pruned — BALANCED multi-dimensional skipping, not a one-axis
    # degenerate layout
    keep_x_eq = eq_fmt.files_for_range(eq_snap, "x", *box["x"])
    assert len(keep_x_eq) <= total_eq * 3 // 5
    keep_box_eq = eq_fmt.files_for_box(eq_snap, box)
    assert len(keep_box_eq) <= total_eq // 3

    # pruning is layout, never answers: both equal the plain filter
    want = sorted(
        r.k for r in df.filter(
            F.col("x").between(*box["x"]) & F.col("y").between(*box["y"])
        ).collect()
    )
    assert want  # the box is non-trivial
    for fmt, wh in ((lin_fmt, lin_wh), (eq_fmt, eq_wh)):
        got = sorted(
            r.k for r in fmt.read_for_box(wh, "facts", box).collect()
        )
        assert got == want


def test_txlog_widen_column_and_recorded_keys(spark, tmp_path):
    """Type widening (Delta type-widening analog) is metadata-only and
    read-time exact over mixed physical widths; the manifest-recorded
    merge-key list enforces the bucket contract: wrong-key merges,
    key-column widening (xxhash64 buckets int32/int64 differently),
    and key-column drops are refused; a key rename tracks the list."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id AS INT) AS cnt, "
        "CAST(id AS FLOAT) AS score, TIMESTAMP '2024-01-01' AS ts "
        "FROM range(100)"
    )
    wh.upsert_partitioned("t", df, ["k"], "ts", num_buckets=4)
    snap = fmt._latest(wh, "t")
    assert snap["keys"] == ["k"]

    # the key list is the physical contract — order and membership
    with pytest.raises(ValueError, match="committed under keys"):
        wh.upsert_partitioned("t", df, ["cnt"], "ts", num_buckets=4)

    # widening: zero data files touched, reads upcast exactly
    files_v1 = snap["files"]
    fmt.widen_column(wh, "t", "cnt", "long")
    assert fmt._latest(wh, "t")["files"] == files_v1
    cur = fmt.read_merged(wh, "t")
    assert dict(cur.dtypes)["cnt"] == "bigint"
    assert cur.filter("k = 7").first().cnt == 7

    # merge with the wide type: mixed int32/int64 physical files under
    # one manifest, keep-newest still exact
    up = spark.sql(
        "SELECT id AS k, CAST(id * 10 AS BIGINT) AS cnt, "
        "CAST(id AS FLOAT) AS score, TIMESTAMP '2024-02-01' AS ts "
        "FROM range(95, 105)"
    )
    wh.upsert_partitioned("t", up, ["k"], "ts", num_buckets=4)
    cur = fmt.read_merged(wh, "t")
    assert cur.count() == 105
    assert cur.filter("k = 98").first().cnt == 980
    assert cur.filter("k = 7").first().cnt == 7
    # minmax stats fold the mixed-width files exactly
    assert fmt.minmax_stats(wh, "t", ["cnt"])["cnt"] == (0, 1040)
    # time travel keeps the narrow type
    assert dict(fmt.read_version(wh, "t", 1).dtypes)["cnt"] == "int"

    fmt.widen_column(wh, "t", "score", "double")
    assert dict(fmt.read_merged(wh, "t").dtypes)["score"] == "double"

    # guards: key widening, non-widening pairs, key drop
    with pytest.raises(ValueError, match="merge key"):
        fmt.widen_column(wh, "t", "k", "double")
    with pytest.raises(ValueError, match="safe widening"):
        fmt.widen_column(wh, "t", "ts", "long")
    with pytest.raises(ValueError, match="safe widening"):
        fmt.widen_column(wh, "t", "cnt", "int")
    with pytest.raises(ValueError, match="merge key"):
        fmt.drop_column(wh, "t", "k")

    # a key RENAME tracks the recorded list; merges speak the new name
    fmt.rename_column(wh, "t", "k", "user_id")
    assert fmt._latest(wh, "t")["keys"] == ["user_id"]
    up2 = spark.sql(
        "SELECT id AS user_id, CAST(id AS BIGINT) AS cnt, "
        "CAST(id AS DOUBLE) AS score, TIMESTAMP '2024-03-01' AS ts "
        "FROM range(103, 108)"
    )
    wh.upsert_partitioned("t", up2, ["user_id"], "ts", num_buckets=4)
    assert fmt.read_merged(wh, "t").count() == 108


def test_txlog_widen_strips_blooms_on_float_target(spark, tmp_path):
    """Widening an integral bloom column to double strips that
    column's manifest blooms (str(5.0) != str(5) would make probes
    silent false negatives); absent blooms only cost extra opens."""
    from instagram_data_pipeline_spark.formats import (
        BLOOM_KEY, TransactionLogFormat,
    )
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat(bloom_cols=["tag_id"], bloom_bits=1024)
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id * 7 AS INT) AS tag_id, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(200)"
    )
    wh.upsert_partitioned("t", df, ["k"], "ts", num_buckets=4)
    snap = fmt._latest(wh, "t")
    assert all("tag_id" in s.get(BLOOM_KEY, {})
               for s in snap["stats"].values())

    # int -> long keeps blooms (str() canonicalization unchanged)
    fmt.widen_column(wh, "t", "tag_id", "long")
    snap = fmt._latest(wh, "t")
    assert all("tag_id" in s.get(BLOOM_KEY, {})
               for s in snap["stats"].values())
    got = fmt.read_for_value(wh, "t", "tag_id", 7 * 41)
    assert [r.k for r in got.collect()] == [41]

    # long is terminal for ints; rebuild an int table and go double
    fmt2 = TransactionLogFormat(bloom_cols=["tag_id"], bloom_bits=1024)
    wh2 = Warehouse(spark, str(tmp_path / "wh2"), fmt=fmt2)
    wh2.upsert_partitioned("t", df, ["k"], "ts", num_buckets=4)
    fmt2.widen_column(wh2, "t", "tag_id", "double")
    snap2 = fmt2._latest(wh2, "t")
    assert all(
        "tag_id" not in s.get(BLOOM_KEY, {})
        for s in snap2["stats"].values()
    )
    # absent blooms: conservative keep-all, answers exact
    got = fmt2.read_for_value(wh2, "t", "tag_id", 7.0 * 41)
    assert [r.k for r in got.collect()] == [41]


def test_txlog_num_buckets_contract_and_rebucket(spark, tmp_path):
    """The bucket modulus is manifest-recorded at first write: merges,
    deletes, and point lookups under a different num_buckets are
    refused (a mismatched modulus mis-scopes every bucket read —
    silent duplicate keys / missed rows); rebucket() is the sanctioned
    full-rewrite layout change, after which the OLD modulus is the one
    refused and reads/merges continue exactly."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id AS STRING) AS v, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(200)"
    )
    wh.upsert_partitioned("t", df, ["k"], "ts", num_buckets=4)
    assert fmt._latest(wh, "t")["num_buckets"] == 4

    with pytest.raises(ValueError, match="num_buckets=4"):
        wh.upsert_partitioned("t", df, ["k"], "ts", num_buckets=8)
    with pytest.raises(ValueError, match="num_buckets=4"):
        fmt.read_for_keys(
            wh, "t", ["k"], df.select("k").limit(3), num_buckets=8
        )
    with pytest.raises(ValueError, match="num_buckets=4"):
        fmt.delete_keys_dv(
            wh, "t", ["k"], df.select("k").limit(1), num_buckets=8
        )

    v = fmt.rebucket(wh, "t", 16)
    snap = fmt._latest(wh, "t")
    assert snap["num_buckets"] == 16 and snap["version"] == v
    buckets = set(snap["files"].values())
    assert len(buckets) > 4 and buckets <= set(range(16))
    assert fmt.read_merged(wh, "t").count() == 200
    # time travel keeps the old layout self-consistent
    assert fmt.read_version(wh, "t", 1).count() == 200

    with pytest.raises(ValueError, match="num_buckets=16"):
        wh.upsert_partitioned("t", df.limit(1), ["k"], "ts", num_buckets=4)
    wh.upsert_partitioned(
        "t",
        spark.sql("SELECT CAST(999 AS BIGINT) AS k, "
                  "CAST('x' AS STRING) AS v, "
                  "TIMESTAMP '2024-05-01' AS ts"),
        ["k"], "ts", num_buckets=16,
    )
    got = fmt.read_for_keys(
        wh, "t", ["k"],
        spark.createDataFrame([(7,), (999,)], "k long"), num_buckets=16,
    )
    assert sorted(r.k for r in got.collect()) == [7, 999]


def test_txlog_idempotent_txn_merges(spark, tmp_path):
    """txn=(app, version) merges are exactly-once (the Delta
    txnAppId/txnVersion design): a replay at or below the recorded
    version publishes nothing and changes nothing; independent apps
    track independently; compaction and metadata commits carry the
    bookkeeping."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)

    def batch(lo, n, tag, ts):
        return spark.sql(
            f"SELECT id AS k, '{tag}' AS v, TIMESTAMP '{ts}' AS ts "
            f"FROM range({lo}, {lo + n})"
        )

    wh.upsert_partitioned(
        "t", batch(0, 50, "b0", "2024-01-01"), ["k"], "ts",
        num_buckets=4, txn=("sink", 0),
    )
    assert fmt._latest(wh, "t")["txns"] == {"sink": 0}
    wh.upsert_partitioned(
        "t", batch(40, 20, "b1", "2024-02-01"), ["k"], "ts",
        num_buckets=4, txn=("sink", 1),
    )
    v_after = fmt.versions(wh, "t")[-1]
    n_after = fmt.count_rows(wh, "t")

    # replays: batch 1 again, batch 0 again — both silent no-ops
    for ver in (1, 0):
        wh.upsert_partitioned(
            "t", batch(40, 20, "GHOST", "2024-09-09"), ["k"], "ts",
            num_buckets=4, txn=("sink", ver),
        )
    assert fmt.versions(wh, "t")[-1] == v_after
    assert fmt.count_rows(wh, "t") == n_after == 60
    assert fmt.read_merged(wh, "t").filter("v = 'GHOST'").count() == 0

    # a different app is independent bookkeeping
    wh.upsert_partitioned(
        "t", batch(58, 4, "other", "2024-03-01"), ["k"], "ts",
        num_buckets=4, txn=("backfill", 1),
    )
    assert fmt._latest(wh, "t")["txns"] == {"sink": 1, "backfill": 1}

    # compaction + metadata commits carry the bookkeeping forward
    fmt.compact(wh, "t", ["k"], num_buckets=4)
    fmt.rename_column(wh, "t", "v", "val")
    assert fmt._latest(wh, "t")["txns"] == {"sink": 1, "backfill": 1}
    # and the replay guard still holds after both
    wh.upsert_partitioned(
        "t", batch(0, 5, "GHOST", "2024-09-09").withColumnRenamed(
            "v", "val"
        ),
        ["k"], "ts", num_buckets=4, txn=("sink", 1),
    )
    assert fmt.read_merged(wh, "t").filter("val = 'GHOST'").count() == 0


def test_txlog_delete_keys_preserves_column_mapping(spark, tmp_path):
    """Code-review r8 #1: delete_keys on a column-mapped table must
    carry the fields/tombstone metadata and write replacement files
    under PHYSICAL names — otherwise carried files read back NULL for
    every renamed column and a re-added dropped column can resurrect
    old bytes."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id AS DOUBLE) AS v, 'secret' AS s, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(200)"
    )
    wh.upsert_partitioned("t", df, ["k"], "ts", num_buckets=8)
    fmt.rename_column(wh, "t", "v", "val")
    fmt.drop_column(wh, "t", "s")

    victims = spark.createDataFrame([(3,), (77,)], "k long")
    deleted = fmt.delete_keys(wh, "t", ["k"], victims, num_buckets=8)
    assert deleted == 2
    snap = fmt._latest(wh, "t")
    # mapping metadata survived the copy-on-write rewrite
    assert {f["name"] for f in snap["fields"]} == {"k", "val", "ts"}
    assert next(
        f for f in snap["fields"] if f["name"] == "val"
    )["phys"] == "v"
    assert [f["name"] for f in snap["dropped_fields"]] == ["s"]
    # carried (untouched-bucket) files still serve the renamed column
    cur = fmt.read_merged(wh, "t")
    vals = {r.k: r.val for r in cur.collect()}
    assert len(vals) == 198 and vals[10] == 10.0 and 3 not in vals
    # re-adding the dropped name after the delete: fresh physical
    # name, no resurrection of 'secret' through the rewritten files
    up = spark.sql(
        "SELECT id AS k, CAST(id AS DOUBLE) AS val, "
        "TIMESTAMP '2024-02-01' AS ts, 'fresh' AS s FROM range(5)"
    )
    wh.upsert_partitioned("t", up, ["k"], "ts", num_buckets=8)
    got = {r.k: r.s for r in fmt.read_merged(wh, "t").collect()}
    assert got[2] == "fresh" and got[10] is None


def test_txlog_wrong_key_list_refused_on_every_bucket_op(
    spark, tmp_path
):
    """Code-review r8 #4: the recorded-keys contract holds on deletes,
    point lookups, and compaction too — a reordered or different key
    list computes the WRONG buckets (xxhash64 is order-sensitive), so
    a delete would silently miss its victims."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS a, id * 2 AS b, TIMESTAMP '2024-01-01' AS ts "
        "FROM range(100)"
    )
    wh.upsert_partitioned("t", df, ["a", "b"], "ts", num_buckets=4)
    victims = df.select("a", "b").limit(3)
    for op in (
        lambda: fmt.delete_keys(wh, "t", ["b", "a"], victims, 4),
        lambda: fmt.delete_keys_dv(wh, "t", ["b", "a"], victims, 4),
        lambda: fmt.read_for_keys(wh, "t", ["b", "a"], victims, 4),
        lambda: fmt.compact(wh, "t", ["b", "a"], 4),
    ):
        with pytest.raises(ValueError, match="committed under keys"):
            op()


def test_txlog_changes_between_across_mapping_bootstrap(
    spark, tmp_path
):
    """Code-review r8 #3: a CDF window whose FROM version predates
    column mapping still aligns the renamed column by synthesized
    identity field ids — value updates emit under the NEW name instead
    of silently vanishing from the diff."""
    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)

    def batch(lo, n, mult, ts):
        return spark.sql(
            f"SELECT id AS k, CAST(id * {mult} AS DOUBLE) AS v, "
            f"TIMESTAMP '{ts}' AS ts FROM range({lo}, {lo + n})"
        )

    wh.upsert_partitioned(
        "t", batch(0, 40, 1, "2024-01-01"), ["k"], "ts", num_buckets=4
    )  # v1: pre-mapping
    fmt.rename_column(wh, "t", "v", "score")  # v2: bootstraps fields
    wh.upsert_partitioned(
        "t",
        batch(30, 20, 100, "2024-02-01").withColumnRenamed("v", "score"),
        ["k"], "ts", num_buckets=4,
    )  # v3: 10 updates + 10 inserts
    feed = fmt.changes_between(wh, "t", ["k"], 1, 3)
    assert "score" in feed.columns
    got = {(r._change_type, r.k, r.score) for r in feed.collect()}
    ups = {t for t in got if t[0].startswith("update")}
    # every update carries REAL pre/post values under the new name
    assert {t for t in got if t[0] == "update_preimage"} == {
        ("update_preimage", k, float(k)) for k in range(30, 40)
    }
    assert {t for t in got if t[0] == "update_postimage"} == {
        ("update_postimage", k, float(k * 100)) for k in range(30, 40)
    }
    assert {t[1] for t in got if t[0] == "insert"} == set(range(40, 50))
    assert None not in {t[2] for t in ups}


def test_stat_pruning_survives_mixed_iso_forms(spark, tmp_path):
    """Code-review r8 #5: LEGACY bare-date zone-map stats compared
    against midnight-normalized datetime bounds (and tz-aware footer
    stats against naive bounds) must not prune the boundary file —
    mixed ISO forms promote to one form before comparing, while plain
    string stats stay untouched."""
    import datetime as dt
    import json as _json

    from instagram_data_pipeline_spark.formats import (
        TransactionLogFormat, _mixed_form_fix,
    )
    from instagram_data_pipeline_spark.io import Warehouse

    # unit: the promotion rules
    assert _mixed_form_fix("1995-03-31", "1995-03-31T00:00:00") == (
        "1995-03-31T00:00:00", "1995-03-31T00:00:00",
    )
    a, b = _mixed_form_fix(
        "1995-03-31T00:00:00", "1995-03-31T00:00:00+00:00"
    )
    assert a == b
    # plain strings that merely look like dates stay raw on BOTH sides
    assert _mixed_form_fix("1995-03-31", "1995-03-31") == (
        "1995-03-31", "1995-03-31",
    )
    assert _mixed_form_fix("abc", "1995-03-31T00:00:00") == (
        "abc", "1995-03-31T00:00:00",
    )

    # end-to-end: forge a legacy manifest whose ts stats are bare dates
    fmt = TransactionLogFormat(cluster_col="ts", max_records_per_file=8)
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    rows = [
        (i, dt.datetime(1995, 3, 28) + dt.timedelta(hours=12 * i))
        for i in range(16)
    ]
    wh.upsert_partitioned(
        "t", spark.createDataFrame(rows, "k long, ts timestamp"),
        ["k"], "ts", num_buckets=1,
    )
    log = sorted((tmp_path / "wh" / "t" / "_txlog").glob("*.json"))[-1]
    m = _json.loads(log.read_text())
    for s in m["stats"].values():
        if "ts" in s:
            s["ts"] = [v[:10] for v in s["ts"]]  # legacy bare dates
    log.write_text(_json.dumps(m))

    lo, hi = dt.datetime(1995, 3, 31), dt.datetime(1995, 4, 2)
    got = sorted(
        r.k for r in fmt.read_for_range(wh, "t", "ts", lo, hi).collect()
    )
    want = sorted(r[0] for r in rows if lo <= r[1] <= hi)
    assert got == want and want  # boundary rows survive legacy stats


def test_txlog_rebase_never_regresses_same_app_txn(spark, tmp_path):
    """ADVICE r8 #4: a merge rebasing over a DISJOINT concurrent winner
    that advanced the SAME app's txn version must carry the winner's
    (higher) version forward, not regress it to the loser's stale
    value — otherwise a later replay of the winner's batch would slip
    past the idempotence check and double-apply."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    class Fmt(_RacingPublish, TransactionLogFormat):
        pass

    fmt = Fmt()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    k_a, k_b = _two_buckets(spark)
    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    base = spark.createDataFrame(
        [(i, "old", t0) for i in range(20)],
        "k long, v string, ts timestamp",
    )
    plain = TransactionLogFormat()
    plain.merge(wh, "facts", base, ["k"], "ts", 4, txn=("app", 5))

    winner_batch = spark.createDataFrame(
        [(k_b, "from_winner", t1)], "k long, v string, ts timestamp"
    )

    def competitor():
        # same app id, HIGHER version, disjoint bucket
        plain.merge(wh, "facts", winner_batch, ["k"], "ts", 4,
                    txn=("app", 9))

    fmt.competitor = competitor
    loser_batch = spark.createDataFrame(
        [(k_a, "from_loser", t1)], "k long, v string, ts timestamp"
    )
    # loser carries version 7 (> snapshot's 5, so not a replay; < the
    # winner's 9 that lands mid-flight)
    fmt.merge(wh, "facts", loser_batch, ["k"], "ts", 4, txn=("app", 7))

    snap = plain._latest(wh, "facts")
    assert snap["txns"]["app"] == 9  # high-water mark, never regressed
    got = {r.k: r.v for r in wh.read_merged("facts").collect()}
    assert got[k_a] == "from_loser" and got[k_b] == "from_winner"

    # replaying the winner's batch is now correctly a silent no-op
    v_before = fmt.versions(wh, "facts")
    plain.merge(wh, "facts", winner_batch.withColumn(
        "v", F.lit("replayed")
    ), ["k"], "ts", 4, txn=("app", 9))
    assert fmt.versions(wh, "facts") == v_before
    assert {r.k: r.v for r in wh.read_merged("facts").collect()} == got


def test_txlog_dv_matching_survives_symlinked_root(spark, tmp_path):
    """ADVICE r8 #2: deletion-vector (file, ordinal) pairing keys on
    the manifest-relative path suffix, so a warehouse reached through a
    SYMLINKED root (macOS /tmp -> /private/tmp) neither resurrects
    DV-deleted rows on read nor crashes delete_keys_dv."""
    import datetime as dt
    import os

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat()
    real = tmp_path / "real_wh"
    real.mkdir()
    wh = Warehouse(spark, str(real), fmt=fmt)
    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, f"v{i}", t0) for i in range(40)],
        "k long, v string, ts timestamp",
    )
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=4)
    assert fmt.delete_keys_dv(
        wh, "facts", ["k"],
        spark.createDataFrame([(3,), (17,)], "k long"), 4,
    ) == 2

    link = tmp_path / "link_wh"
    os.symlink(str(real), str(link))
    wh_link = Warehouse(spark, str(link), fmt=fmt)

    # read through the symlink: deleted rows stay gone, and the
    # anti-join removed EXACTLY the manifest's recorded dv row count
    snap = fmt._latest(wh_link, "facts")
    n_dv = sum(int(e["n"]) for e in snap.get("dv", {}).values())
    got = wh_link.read_merged("facts")
    assert got.count() == 40 - n_dv == 38
    assert {r.k for r in got.collect()} == set(range(40)) - {3, 17}

    # and a further DV delete THROUGH the symlinked root works
    assert fmt.delete_keys_dv(
        wh_link, "facts", ["k"],
        spark.createDataFrame([(25,)], "k long"), 4,
    ) == 1
    assert wh_link.read_merged("facts").count() == 37
    assert wh.read_merged("facts").count() == 37


def test_txlog_key_probe_type_alignment(spark, tmp_path):
    """Round-9 model-test find: xxhash64 bucketing is TYPE-sensitive
    (int 159 and long 159 land in different buckets), so a key-probe
    frame typed differently from the table's recorded key type used to
    scope delete_keys/delete_keys_dv/read_for_keys to the WRONG buckets
    — silent row misses (multi-key frames masked it via bucket overlap;
    single-key frames missed outright). Probes now cast to the stored
    key type first; unrepresentable values are harmless no-ops."""
    import datetime as dt

    from instagram_data_pipeline_spark.formats import TransactionLogFormat

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    # INT-keyed table (SQL VALUES integer literals are int32)
    df = spark.sql(
        "SELECT * FROM VALUES (159, 'a', TIMESTAMP '2024-01-01'), "
        "(7, 'b', TIMESTAMP '2024-01-01'), "
        "(300, 'c', TIMESTAMP '2024-01-01') AS t(k, v, ts)"
    )
    wh.upsert_partitioned("t", df, ["k"], "ts", num_buckets=4)

    # 159 is a known int-vs-long bucket-divergent value at n=4
    assert fmt.delete_keys(
        wh, "t", ["k"], spark.createDataFrame([(159,)], "k long"), 4
    ) == 1
    got = fmt.read_for_keys(
        wh, "t", ["k"], spark.createDataFrame([(7,)], "k long"), 4
    ).collect()
    assert [(r.k, r.v) for r in got] == [(7, "b")]
    assert fmt.delete_keys_dv(
        wh, "t", ["k"], spark.createDataFrame([(300,)], "k long"), 4
    ) == 1
    # a key that cannot represent in the stored type matches nothing
    assert fmt.delete_keys(
        wh, "t", ["k"], spark.createDataFrame([(1 << 40,)], "k long"), 4
    ) == 0
    assert sorted(r.k for r in wh.read_merged("t").collect()) == [7]


def test_txlog_restore_version_schema_contract_and_txn_fence(
    spark, tmp_path
):
    """restore_version (round 10) is a control-plane rollback with
    three properties the SQL test can't see: (1) restoring across a
    rename/widen reverts the LOGICAL SCHEMA (the target manifest's
    column-mapping metadata is what its readers saw); (2) restoring
    across a rebucket reverts the BUCKET CONTRACT (the referenced
    files are laid out under the old modulus, and later merges must
    use it); (3) the idempotent-writer high-water marks carry from
    the LATEST version, never the target — a replayed streaming batch
    stays a no-op after the rollback (exactly-once survives
    RESTORE)."""
    import pytest

    from instagram_data_pipeline_spark.formats import (
        TransactionLogFormat,
    )
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)

    def batch(lo, n, tag, ts):
        return spark.sql(
            f"SELECT id AS k, concat('{tag}', id) AS v, "
            f"CAST(id AS INT) AS cnt, TIMESTAMP '{ts}' AS ts "
            f"FROM range({lo}, {lo + n})"
        )

    # v1 under (4 buckets, int cnt, column 'v'), stamped by app "s"
    fmt.merge(wh, "t", batch(0, 30, "a", "2024-01-01"), ["k"], "ts",
              num_buckets=4, txn=("s", 7))
    # v2..v4: rename v->vx, widen cnt->long, rebucket 4->8
    fmt.rename_column(wh, "t", "v", "vx")
    fmt.widen_column(wh, "t", "cnt", "long")
    fmt.rebucket(wh, "t", 8)
    # v5: merge under the NEW shape, advancing the app stamp
    fmt.merge(
        wh, "t",
        spark.sql(
            "SELECT id AS k, concat('b', id) AS vx, "
            "CAST(id AS LONG) AS cnt, TIMESTAMP '2024-02-01' AS ts "
            "FROM range(25, 40)"
        ),
        ["k"], "ts", num_buckets=8, txn=("s", 9),
    )
    assert fmt.count_rows(wh, "t") == 40

    published = fmt.restore_version(wh, "t", 1)
    assert published["version"] == 6

    # (1) logical schema reverted: column is 'v' again, cnt back to int
    cur = fmt.read_merged(wh, "t")
    assert "v" in cur.columns and "vx" not in cur.columns
    assert dict(cur.dtypes)["cnt"] == "int"
    got = {r.k: r.v for r in cur.collect()}
    assert len(got) == 30 and got[5] == "a5"

    # (2) bucket contract reverted: merges must present the OLD modulus
    with pytest.raises(ValueError, match="bucket"):
        fmt.merge(wh, "t", batch(100, 5, "c", "2024-03-01"),
                  ["k"], "ts", num_buckets=8)

    # (3) txn fence carried from LATEST (9), not the target (7): the
    # replay of an already-applied batch stays a silent no-op...
    fmt.merge(wh, "t", batch(200, 5, "d", "2024-03-01"), ["k"], "ts",
              num_buckets=4, txn=("s", 9))
    assert fmt.count_rows(wh, "t") == 30
    # ...while the NEXT batch applies
    fmt.merge(wh, "t", batch(200, 5, "d", "2024-03-01"), ["k"], "ts",
              num_buckets=4, txn=("s", 10))
    assert fmt.count_rows(wh, "t") == 35

    # the rolled-back shape is still fully readable as history
    v5 = fmt.read_version(wh, "t", 5)
    assert "vx" in v5.columns and v5.count() == 40


def test_txlog_decimal_columns_write_without_zone_maps(spark, tmp_path):
    """Columns whose parquet footer stats pyarrow cannot extract
    (DECIMAL logical types raise ArrowNotImplementedError from
    Statistics.min, they don't return None) must be UNPRUNABLE, not
    unwritable: the write skips their zone-map entry and everything
    else — merge, read, metadata COUNT, key-scoped delete — works."""
    from pyspark.sql import functions as F

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id * 1.01 AS DECIMAL(10,2)) AS amount, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(50)"
    )
    fmt.merge(wh, "t", df, ["k"], "ts", num_buckets=4)
    got = fmt.read_merged(wh, "t")
    assert dict(got.dtypes)["amount"] == "decimal(10,2)"
    assert got.count() == 50 and fmt.count_rows(wh, "t") == 50
    # the decimal column has no zone map (absent == unprunable);
    # the long key column keeps its stats
    snap = fmt._latest(wh, "t")
    for f, st in snap["stats"].items():
        assert "amount" not in st, f
        assert "k" in st, f
    # point ops through the bucketed key still work
    victims = spark.createDataFrame([(3,), (4,)], "k long")
    assert fmt.delete_keys_dv(wh, "t", ["k"], victims, num_buckets=4) == 2
    assert fmt.count_rows(wh, "t") == 48


def test_txlog_overwrite_refuses_stale_caller_schema(spark, tmp_path):
    """ADVICE r13 #1: INSERT OVERWRITE / TRUNCATE publish the schema
    the CALLER read; a DDL (e.g. SET NOT NULL) committing between the
    caller's read and replace_table's own snap0 read would be silently
    reverted — and the nn validation set derived from the stale
    schema. keep_constraints ops replace data, not the contract, so a
    stale contract is refused loudly (re-run reads the new schema)."""
    import json as _json

    import pytest as _pytest
    from pyspark.sql.types import StructType

    from instagram_data_pipeline_spark.formats import (
        CommitConflict,
        TransactionLogFormat,
    )
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id AS STRING) AS v, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(8)"
    )
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=4)
    # the caller's stale read: schema BEFORE the promote below
    stale = StructType.fromJson(
        _json.loads(fmt._latest(wh, "facts")["schema"])
    )
    fmt.set_not_null(wh, "facts", "v")  # concurrent DDL wins the window
    with _pytest.raises(CommitConflict, match="schema changed"):
        fmt.replace_table(
            wh, "facts", stale, ["k"], 4, df=df,
            keep_constraints=True, op="INSERT OVERWRITE",
        )
    # the promote survives, and a fresh read commits cleanly
    cur = StructType.fromJson(
        _json.loads(fmt._latest(wh, "facts")["schema"])
    )
    assert not cur["v"].nullable
    snap = fmt.replace_table(
        wh, "facts", cur, ["k"], 4, df=df,
        keep_constraints=True, op="INSERT OVERWRITE",
    )
    assert not StructType.fromJson(
        _json.loads(snap["schema"])
    )["v"].nullable


def test_txlog_not_null_ddl_on_pre_schema_manifest_is_loud(
    spark, tmp_path
):
    """ADVICE r13 #2: SET/DROP NOT NULL on a legacy pre-schema manifest
    must raise a clear ValueError, not a bare KeyError."""
    import json as _json

    import pytest as _pytest

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id AS STRING) AS v, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(4)"
    )
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=4)
    # forge a legacy manifest: no recorded schema
    from pathlib import Path

    log = sorted(
        (Path(wh.path("facts")) / "_txlog").glob("*.json")
    )[-1]
    m = _json.loads(log.read_text())
    del m["schema"]
    log.write_text(_json.dumps(m))
    with _pytest.raises(ValueError, match="pre-schema"):
        fmt.set_not_null(wh, "facts", "v")
    with _pytest.raises(ValueError, match="pre-schema"):
        fmt.drop_not_null(wh, "facts", "v")


def test_txlog_vacuum_checkpoint_tmp_is_per_writer(spark, tmp_path):
    """ADVICE r13 #3: concurrent vacuums must not share one tmp path
    for the liveset checkpoint publish — each writer's os.replace is
    independently atomic. ADVICE r14 #3: an IN-FLIGHT foreign tmp
    (inside the grace window) neither blocks the publish nor is
    clobbered, but a tmp ORPHANED by a crashed vacuum (older than the
    grace window — the write+replace is sub-second) is aged out so
    stale tmps don't accumulate forever; our own tmp never survives."""
    import json as _json
    import os
    import time
    from pathlib import Path

    from instagram_data_pipeline_spark.formats import TransactionLogFormat
    from instagram_data_pipeline_spark.io import Warehouse

    fmt = TransactionLogFormat()
    wh = Warehouse(spark, str(tmp_path / "wh"), fmt=fmt)
    df = spark.sql(
        "SELECT id AS k, CAST(id AS STRING) AS v, "
        "TIMESTAMP '2024-01-01' AS ts FROM range(8)"
    )
    wh.upsert_partitioned("facts", df, ["k"], "ts", num_buckets=4)
    root = Path(wh.path("facts"))
    foreign = root / ".liveset.tmp.999999999"
    foreign.write_text("{\"mid\": \"write\"}")
    crashed = root / ".liveset.tmp.888888888"
    crashed.write_text("{\"mid\": \"write\"}")
    old = time.time() - 7200
    os.utime(crashed, (old, old))
    assert fmt.vacuum(wh, "facts") == []  # default 1h grace
    ckpt = root / "_liveset.json"
    assert ckpt.exists()
    assert _json.load(open(ckpt))["vmax"] == 1  # valid, not corrupt
    assert foreign.exists()  # in-flight writer's tmp untouched
    assert not crashed.exists()  # crashed vacuum's litter aged out
    assert not (root / f".liveset.tmp.{os.getpid()}").exists()

    # grace_seconds=0 reclaims data files at once, but the tmp cutoff
    # keeps its floor: a fresh foreign tmp survives, an aged one goes
    assert fmt.vacuum(wh, "facts", grace_seconds=0.0) == []
    assert foreign.exists()
    aged = time.time() - 120
    os.utime(foreign, (aged, aged))
    assert fmt.vacuum(wh, "facts", grace_seconds=0.0) == []
    assert not foreign.exists()


# ---------------------------------------------------------------------------
# spread_small_scan: the gated repartition must decide from the
# FileIndex (no RDD materialization — VERDICT r14 #3) and stay a strict
# no-op whenever the scan is already machine-wide.
# ---------------------------------------------------------------------------
def test_spread_small_scan_spreads_single_file(spark, sf_dir):
    from instagram_data_pipeline_spark.io import spread_small_scan

    docs = load_testdata(spark, sf_dir, "documents")
    out = spread_small_scan(docs, key="doc_id", parts=8)
    assert out is not docs  # single small file < 8 estimated splits
    assert out.rdd.getNumPartitions() == 8
    # values untouched, only placement
    assert out.count() == docs.count()


def test_spread_small_scan_noop_when_wide_enough(spark, sf_dir):
    from instagram_data_pipeline_spark.io import spread_small_scan

    docs = load_testdata(spark, sf_dir, "documents")
    assert spread_small_scan(docs, key="doc_id", parts=1) is docs


def test_spread_small_scan_noop_on_non_file_frame(spark):
    from instagram_data_pipeline_spark.io import spread_small_scan

    df = spark.range(10)  # no file source behind it: nothing to probe
    assert spread_small_scan(df, parts=64) is df

"""graph_ingest: the reference pipeline, write-heavy.

Per batch, in this order (op class -> layer call):

  upsert_profiles    sources.profiles.read_profile_jsonl + Pipeline.upsert_profiles
  append_followers   io.read_source (CSV) + Pipeline.append_edges("followers")
  append_following   io.read_source (CSV) + Pipeline.append_edges("following")
  enqueue            JobScheduler.enqueue_users (3 users of the batch)
  scheduler_tick     JobScheduler.process_pending_jobs (benchmark handlers,
                     completeness trigger)
  derive_mutuals     Pipeline.derive_mutuals
  analyze_interests  Pipeline.analyze_interests (keyword categorizer)
  key_lookup         operators.relational.key_lookup x 7, collected
  edge_count         operators.relational.edge_count_for_user x 4
  interest_detail    operators.relational.user_interest_detail x 3, collected
  mutual_counts      operators.mutuals.mutual_edges(user_id=...) for the
                     celebrity and 1 new user, counted

Batch 0 (2000 users) is the initial load and the warm-up; each timed
batch lands 500 more. The scheduler's clock advances one day per batch,
so the 200/day quota never blocks. ``Warehouse.overwrite_atomic``
rewrites whole tables, so a batch's cost grows with the tables: the op
schedule is fixed, so both sides of a comparison do identical work.
"""

from __future__ import annotations

import datetime as dt
import json

import duckdb

from gen import CELEB_ID, CELEB_NAME, EPOCH, graph_inputs
from harness import Op, dir_bytes, parquet_rows

from instagram_data_pipeline_spark.io import read_source
from instagram_data_pipeline_spark.operators.mutuals import mutual_edges
from instagram_data_pipeline_spark.operators.relational import (
    edge_count_for_user,
    key_lookup,
    user_interest_detail,
)
from instagram_data_pipeline_spark.plans.manual import Pipeline
from instagram_data_pipeline_spark.plans.scheduler import JobScheduler
from instagram_data_pipeline_spark.schemas import FOLLOWERS, FOLLOWING
from instagram_data_pipeline_spark.sources.profiles import read_profile_jsonl

EDGE_SCHEMAS = {"followers": (FOLLOWERS, "follower_id"),
                "following": (FOLLOWING, "following_id")}


class GraphIngest:
    name = "graph_ingest"
    # planned cost of one timed batch on 4 cores; run.py sets the batch
    # count from it and --seconds, so equal --seconds means identical work
    period_seconds = 16.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.batches = 1 + ctx.periods  # batch 0 is the warm-up
        # (op id, kind, batch, ...), checked after the window
        self.checks: list[tuple] = []
        self.io_rows_rewritten = 0
        self.interest_rows: list[int] = []
        self.jobs_per_tick: list[int] = []
        self.new_edges = 0

    # -- inputs -------------------------------------------------------------
    def generate(self):
        inputs = graph_inputs(self.ctx.seed, self.batches)
        _schedule_extras(inputs)
        return inputs

    def load(self, inputs, data, root) -> None:
        """A fresh warehouse under ``root``; batch 0, the warm-up, is the
        initial load."""
        self.inputs, self.data, self.root = inputs, data, root
        self.pipe = Pipeline(self.spark, str(root / "wh"), now=EPOCH)
        self.sched = JobScheduler(self.spark, self.pipe.wh, now=EPOCH)
        self._wrap_overwrite(self.pipe.wh)

    def _wrap_overwrite(self, wh) -> None:
        """Span (and, when traced, row count) around every whole-table
        rewrite of this benchmark's own Warehouse instance."""
        inner = wh.overwrite_atomic

        def overwrite_atomic(table, df):
            with self.tr.span("io.overwrite_atomic"):
                inner(table, df)
            if self.tr.enabled:
                with self.tr.aside():
                    self.io_rows_rewritten += parquet_rows(wh.path(table))

        wh.overwrite_atomic = overwrite_atomic

    # -- ops ----------------------------------------------------------------
    def _day(self, b: int) -> dt.datetime:
        return EPOCH + dt.timedelta(days=b + 1)

    def _edges(self, table: str, b: int):
        schema, _ = EDGE_SCHEMAS[table]
        path = str(self.data / f"graph/{table}/batch={b}.csv")
        with self.tr.span("io.read_source"):
            return read_source(self.spark, path, "csv", schema=schema)

    def _writes(self, b: int) -> list[Op]:
        tr, pipe = self.tr, self.pipe

        def upsert_profiles():
            pipe.now = self.sched.now = self._day(b)
            path = str(self.data / f"graph/profiles/batch={b}.jsonl")
            with tr.span("sources.read_profile_jsonl"):
                good, _bad = read_profile_jsonl(self.spark, path)
            with tr.span("manual.upsert_profiles"):
                pipe.upsert_profiles(good)
            return self.inputs.schedule["good_profiles"][b]

        def append(table):
            def run():
                incoming = self._edges(table, b)
                with tr.span("manual.append_edges"):
                    n = pipe.append_edges(table, incoming,
                                          EDGE_SCHEMAS[table][1])
                self.new_edges += n
                return n
            return run

        def enqueue():
            with tr.span("scheduler.enqueue_users"):
                self.sched.enqueue_users(
                    self.inputs.schedule["enqueue"][b])
            return 0

        def tick():
            def handler(username):
                with tr.span("scheduler.handler"):
                    self.handled.append(username)

            def trigger(username):
                with tr.span("scheduler.trigger"):
                    self.triggered.append(username)

            self.handled, self.triggered = [], []
            with tr.span("scheduler.tick"):
                stats = self.sched.process_pending_jobs(
                    {t: handler for t in ("profile", "followers",
                                          "following")},
                    on_both_complete=trigger)
            self.jobs_per_tick.append(stats["completed"])
            self.checks.append((self.ctx.op_id, "tick", b, stats,
                                sorted(set(self.handled)),
                                sorted(set(self.triggered))))
            return 0

        def mutuals():
            with tr.span("manual.derive_mutuals"):
                return pipe.derive_mutuals()

        def interests():
            with tr.span("manual.analyze_interests"):
                n = pipe.analyze_interests()
            self.interest_rows.append(n)
            return n

        return [Op("upsert_profiles", "write", upsert_profiles),
                Op("append_followers", "write", append("followers")),
                Op("append_following", "write", append("following")),
                Op("enqueue", "write", enqueue),
                Op("scheduler_tick", "write", tick),
                Op("derive_mutuals", "write", mutuals),
                Op("analyze_interests", "write", interests)]

    def _reads(self, b: int) -> list[Op]:
        tr, wh = self.tr, self.pipe.wh
        # users analyzed in this batch
        enq = self.inputs.schedule["enqueue"][b]
        probe = self.inputs.schedule["probe"][b]

        def lookups():
            users = wh.read("users")
            got = []
            for name in probe + ["user_missing"]:
                with tr.span("operators.key_lookup"):
                    df = key_lookup(users, name)
                with tr.span("action.collect"):
                    got.append([r.user_id for r in df.collect()])
            self.checks.append((self.ctx.op_id, "lookup", b,
                                probe + ["user_missing"], got))
            return 0

        def edge_counts():
            users, following = wh.read("users"), wh.read("following")
            got = []
            names = enq + probe[:1]
            for name in names:
                with tr.span("operators.edge_count_for_user"):
                    got.append(edge_count_for_user(following, users, name))
            self.checks.append((self.ctx.op_id, "edge_count", b, names, got))
            return 0

        def details():
            users, interests = wh.read("users"), wh.read("interests")
            cats = wh.read("interest_categories")
            got = []
            for name in enq:
                with tr.span("operators.user_interest_detail"):
                    df = user_interest_detail(interests, users, cats, name)
                with tr.span("action.collect"):
                    got.append(len(df.collect()))
            self.checks.append((self.ctx.op_id, "detail", b, enq, got))
            return 0

        def mutual_counts():
            followers, following = wh.read("followers"), wh.read("following")
            ids = [CELEB_ID, probe[0][5:]]
            got = []
            for uid in ids:
                with tr.span("operators.mutual_edges"):
                    df = mutual_edges(followers, following, user_id=uid)
                with tr.span("action.count"):
                    got.append(df.count())
            self.checks.append((self.ctx.op_id, "mutual_counts", b, ids, got))
            return 0

        return [Op("key_lookup", "read", lookups),
                Op("edge_count", "read", edge_counts),
                Op("interest_detail", "read", details),
                Op("mutual_counts", "read", mutual_counts)]

    def batch_ops(self, b: int) -> list[Op]:
        return self._writes(b) + self._reads(b)

    def warmup_ops(self) -> list[Op]:
        return self.batch_ops(0)

    def timed_periods(self) -> list[list[Op]]:
        return [self.batch_ops(b) for b in range(1, self.batches)]

    # -- correctness (outside the timed window) -----------------------------
    def check(self) -> list[tuple[int | None, str]]:
        """(op id, message) per failed check; op id None for whole-run
        checks."""
        fails: list[tuple[int | None, str]] = []
        d, wh = self.data, self.pipe.wh
        con = duckdb.connect()
        for t, (_, col) in EDGE_SCHEMAS.items():
            con.execute(
                f"CREATE TABLE land_{t} AS SELECT user_id, {col} AS other, "
                f"CAST(regexp_extract(filename, 'batch=(-?[0-9]+)', 1) AS INT)"
                f" AS b FROM read_csv('{d}/graph/{t}/*.csv', header=true, "
                f"filename=true, types={{'user_id': 'VARCHAR', "
                f"'{col}': 'VARCHAR'}})")
            con.execute(
                f"CREATE TABLE wh_{t} AS SELECT user_id, {col} AS other "
                f"FROM read_parquet('{wh.path(t)}/*.parquet')")
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT DISTINCT user_id, other"
                f" FROM land_{t} EXCEPT SELECT user_id, other FROM wh_{t})),"
                f" (SELECT count(*) FROM (SELECT user_id, other FROM wh_{t} "
                f"EXCEPT SELECT user_id, other FROM land_{t})),"
                f" (SELECT count(*) FROM wh_{t}) - (SELECT count(*) FROM "
                f"(SELECT DISTINCT user_id, other FROM wh_{t}))").fetchone()
            if diff != (0, 0, 0):
                fails.append((None, f"{t} table != distinct landed edges "
                                    f"(missing, extra, dup rows) = {diff}"))
        mut_sql = ("SELECT DISTINCT f1.user_id, f1.other AS mutual_id FROM "
                   "land_followers f1 JOIN land_following f2 ON "
                   "f1.user_id = f2.user_id AND f1.other = f2.other")
        con.execute(f"CREATE TABLE exp_mut AS {mut_sql}")
        con.execute(
            "CREATE TABLE wh_mut AS SELECT user_id, mutual_id FROM "
            f"read_parquet('{wh.path('mutuals')}/*.parquet')")
        diff = con.execute(
            "SELECT (SELECT count(*) FROM (SELECT * FROM exp_mut EXCEPT "
            "SELECT * FROM wh_mut)), (SELECT count(*) FROM (SELECT * FROM "
            "wh_mut EXCEPT SELECT * FROM exp_mut)), (SELECT count(*) FROM "
            "exp_mut)").fetchone()
        if diff[:2] != (0, 0):
            fails.append((None, f"mutuals != DuckDB self-join over landed "
                                f"edges (missing, extra) = {diff[:2]}"))
        self.mutual_rows = diff[2]
        n_interests = parquet_rows(wh.path("interests"))
        if n_interests == 0:
            fails.append((None, "interests table is empty"))
        fails += self._check_results(con)
        # the quarantine split, over every landed profile file
        good, bad = read_profile_jsonl(
            self.spark, str(d / "graph/profiles"))
        n_good, n_bad = good.count(), bad.count()
        exp_bad = self.inputs.schedule["malformed"]
        if n_bad != exp_bad:
            fails.append((None, f"quarantined {n_bad} profile lines, "
                                f"planted {exp_bad}"))
        self.quarantine_ratio = n_bad / max(1, n_good + n_bad)
        self.final = {
            "following_rows": parquet_rows(wh.path("following")),
            "users_analyzed": sum(len(e) for e in
                                  self.inputs.schedule["enqueue"]),
            "users_with_interests": con.execute(
                "SELECT count(DISTINCT user_id) FROM read_parquet("
                f"'{wh.path('interests')}/*.parquet')").fetchone()[0],
            "warehouse_bytes": dir_bytes(self.root / "wh"),
        }
        con.close()
        return fails

    def _check_results(self, con) -> list[tuple[int, str]]:
        fails = []
        valid = set(self.inputs.schedule["valid_usernames"])
        for op_id, kind, b, *chk in self.checks:
            def fail(msg):
                fails.append((op_id, f"batch {b} {msg}"))

            if kind == "lookup":
                for name, got in zip(chk[0], chk[1]):
                    want = [name[5:]] if name in valid else []
                    if got != want:
                        fail(f"key_lookup({name}) = {got}")
            elif kind == "edge_count":
                for name, got in zip(chk[0], chk[1]):
                    want = con.execute(
                        "SELECT count(*) FROM (SELECT DISTINCT user_id, other"
                        " FROM land_following WHERE user_id = ? AND b <= ?)",
                        [name[5:], b]).fetchone()[0]
                    if got != want:
                        fail(f"edge_count({name}) = {got}, DuckDB {want}")
            elif kind == "detail":
                if 0 in chk[1]:
                    fail(f"analyzed users without interests: {chk[0]} -> "
                         f"{chk[1]}")
            elif kind == "mutual_counts":
                for uid, got in zip(chk[0], chk[1]):
                    want = con.execute(
                        "SELECT count(*) FROM (SELECT DISTINCT f1.other FROM "
                        "land_followers f1 JOIN land_following f2 ON "
                        "f1.user_id = f2.user_id AND f1.other = f2.other "
                        "WHERE f1.user_id = ? AND f1.b <= ? AND f2.b <= ?)",
                        [uid, b, b]).fetchone()[0]
                    if got != want:
                        fail(f"mutuals of {uid}: {got}, DuckDB {want}")
            elif kind == "tick":
                stats, handled, fired = chk
                enq = self.inputs.schedule["enqueue"][b]
                if stats["failed"] or stats["completed"] != 3 * len(enq):
                    fail(f"scheduler tick {stats}")
                if handled != enq or fired != enq:
                    fail(f"tick handled {handled}, completeness trigger "
                         f"fired for {fired}")
        return fails

    # -- per-layer figures --------------------------------------------------
    def layer_figures(self, records) -> dict:
        landed = self.inputs.total_bytes
        user_rows = max(1, sum(r.rows for r in records))
        return {
            "sources.quarantine_ratio": self.quarantine_ratio,
            "scheduler.jobs_per_tick":
                sum(self.jobs_per_tick) / max(1, len(self.jobs_per_tick)),
            "io.rows_rewritten_per_new_row":
                self.io_rows_rewritten / user_rows,
            "io.disk_bytes_per_user_byte":
                self.final["warehouse_bytes"] / landed,
            "operators.new_edge_ratio":
                self.new_edges / max(1, self.inputs.properties["edge_rows"]),
            "operators.mutuals_per_edge":
                self.mutual_rows / max(1, self.final["following_rows"]),
            "analysis.interest_rows_per_batch":
                sum(self.interest_rows) / max(1, len(self.interest_rows)),
            "analysis.categorized_ratio":
                self.final["users_with_interests"]
                / max(1, self.final["users_analyzed"]),
        }

    def describe_inputs(self) -> dict:
        return dict(self.inputs.properties,
                    landed_bytes=self.inputs.total_bytes,
                    table_bytes=self.final["warehouse_bytes"])


def _schedule_extras(inputs) -> None:
    """Facts the checks need, derived from the generated files alone."""
    good, valid, malformed = [], [], 0
    names = sorted(
        (n for n in inputs.files if n.startswith("graph/profiles/")),
        key=lambda n: int(n.split("=")[1].split(".")[0]))
    probe = []
    for n in names:
        batch_valid = []
        for line in inputs.files[n].decode().splitlines():
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                malformed += 1
                continue
            if rec.get("username") is None or rec.get("user_id") is None:
                malformed += 1
                continue
            batch_valid.append(rec["username"])
        good.append(len(batch_valid))
        valid.extend(batch_valid)
        # the probes are "user_<id>" names; the celebrity is read by
        # mutual_counts
        users = [u for u in batch_valid if u != CELEB_NAME]
        probe.append(users[:: max(1, len(users) // 6)][:6])
    inputs.schedule.update(good_profiles=good, valid_usernames=valid,
                           malformed=malformed, probe=probe)

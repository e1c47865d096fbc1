"""txlog_serve: read serving on one ``TransactionLogFormat`` table with
writes beside the reads, one op of each class per period. It is a part
of the ``txlog_curate`` workload.

Op class -> layer call:

  point_lookup  TransactionLogFormat.read_for_keys (1-64 Zipf-hot keys),
                collected
  range_scan    TransactionLogFormat.read_for_range on ts (6 h,
                recent-biased), count + sum aggregate
  full_scan     Warehouse.read_merged, per-tag count + sum (the unpruned
                cost)
  merge         Warehouse.upsert_partitioned (2000 rows, half updates)
  dv_delete     TransactionLogFormat.delete_keys_dv (200 keys)
  compact       TransactionLogFormat.compact

Deletion vectors slow reads until compaction materialises them, and
compaction moves that cost onto writes, so the mix shows the format's
read/write/space trade-off. Every result is checked against a
driver-side shadow of the writes the benchmark issued.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from gen import EPOCH, TAGS, TX_BASE_ROWS, txlog_inputs
from harness import Op, dir_bytes

from instagram_data_pipeline_spark.formats import TransactionLogFormat
from instagram_data_pipeline_spark.io import Warehouse

TABLE = "tx"
KEYS = ["key"]
BUCKETS = 4
EPOCH_S = calendar.timegm(EPOCH.timetuple())

# one period of the closed loop, one op per class; the reads run with
# the period's deletion vectors pending, and compact materialises them.
# The first period is the warm-up.
PERIOD = ("merge", "dv_delete", "point_lookup", "range_scan", "full_scan",
          "compact")
KIND = {"point_lookup": "read", "range_scan": "read", "full_scan": "read",
        "merge": "write", "dv_delete": "write", "compact": "write"}


class Shadow:
    """The table as the benchmark's own writes say it must be."""

    def __init__(self, cap: int):
        self.present = np.zeros(cap, bool)
        self.ts = np.zeros(cap, np.int64)
        self.amount = np.zeros(cap, np.int64)
        self.tag = np.zeros(cap, np.int8)

    def upsert(self, keys, ts, amount, tag) -> None:
        self.present[keys] = True
        self.ts[keys], self.amount[keys], self.tag[keys] = ts, amount, tag

    def rows(self, keys) -> set:
        keys = np.asarray(keys, int)
        keys = keys[self.present[keys]]
        return {(int(k), int(self.ts[k]) + EPOCH_S, int(self.amount[k]),
                 TAGS[self.tag[k]]) for k in keys}

    def range_agg(self, lo: int, hi: int) -> tuple[int, int]:
        m = self.present & (self.ts >= lo) & (self.ts <= hi)
        return int(m.sum()), int(self.amount[m].sum())

    def per_tag(self) -> dict:
        tag = self.tag[self.present]
        n = np.bincount(tag, minlength=len(TAGS))
        s = np.bincount(tag, weights=self.amount[self.present],
                        minlength=len(TAGS))
        return {t: (int(n[i]), int(s[i])) for i, t in enumerate(TAGS)
                if n[i]}


def _tx_arrays(path):
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    ts = (t["ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
          - EPOCH_S)
    tag = np.array([TAGS.index(x) for x in t["tag"].to_pylist()], np.int8)
    return t["key"].to_numpy(), ts, t["amount"].to_numpy(), tag


class TxlogServe:
    name = "txlog_serve"
    period_seconds = 8.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.plan = list(PERIOD) * (1 + ctx.periods)
        self.checks: list[tuple] = []
        self.figs = {"files_per_lookup": [], "range_kept": [],
                     "dv_pending": [], "written": 0, "user_bytes": 0}

    def generate(self):
        return txlog_inputs(self.ctx.seed, self.plan)

    def load(self, inputs, data, root) -> None:
        self.inputs, self.data, self.root = inputs, data, root
        self.fmt = TransactionLogFormat(cluster_col="ts",
                                        max_records_per_file=8_192)
        self.wh = Warehouse(self.spark, str(root / "wh"), fmt=self.fmt)
        base = str(data / "txlog/base.parquet")
        self.wh.upsert_partitioned(TABLE, self.spark.read.parquet(base),
                                   KEYS, "ts", BUCKETS)
        cap = TX_BASE_ROWS + sum(o.get("rows", 0) for o in
                              inputs.schedule["ops"] if o["cls"] == "merge")
        self.shadow = Shadow(cap)
        k, ts, amount, tag = _tx_arrays(base)
        self.shadow.upsert(k, ts, amount, tag)

    # -- manifest facts (read straight off the on-disk log) -----------------
    def _manifest(self) -> tuple[dict, Path]:
        log = Path(self.wh.path(TABLE)) / "_txlog"
        latest = max(log.glob("*.json"))
        with open(latest) as f:
            return json.load(f), latest

    def _dv_pending(self) -> int:
        snap, _ = self._manifest()
        return sum(int(e.get("n", 0)) for e in (snap.get("dv") or {}).values()
                   if e)

    # -- ops ----------------------------------------------------------------
    def _op(self, spec: dict) -> Op:
        tr, wh, fmt, sh = self.tr, self.wh, self.fmt, self.shadow
        cls = spec["cls"]

        def lookup():
            keys = spec["keys"]
            key_rows = self.spark.createDataFrame([(k,) for k in keys],
                                                  "key long")
            with tr.span("formats.read_for_keys"):
                df = fmt.read_for_keys(wh, TABLE, KEYS, key_rows, BUCKETS)
            with tr.span("action.collect"):
                got = {(r.key, r.ts, r.amount, r.tag) for r in df.select(
                    "key", F.col("ts").cast("long").alias("ts"), "amount",
                    "tag").collect()}
            if tr.enabled:
                with tr.aside():
                    self.figs["files_per_lookup"].append(len(df.inputFiles()))
            self.checks.append((self.ctx.op_id, cls, got, sh.rows(keys)))
            return 0

        def range_scan():
            lo = EPOCH + dt.timedelta(seconds=spec["lo"])
            hi = EPOCH + dt.timedelta(seconds=spec["hi"])
            with tr.span("formats.read_for_range"):
                df = fmt.read_for_range(wh, TABLE, "ts", lo, hi)
            with tr.span("action.collect"):
                r = df.agg(F.count(F.lit(1)).alias("n"),
                           F.coalesce(F.sum("amount"), F.lit(0)).alias("s")
                           ).collect()[0]
            if tr.enabled:
                with tr.aside():
                    snap, _ = self._manifest()
                    self.figs["range_kept"].append(
                        len(df.inputFiles()) / max(1, len(snap["files"])))
            self.checks.append((self.ctx.op_id, cls, (r.n, r.s),
                                sh.range_agg(spec["lo"], spec["hi"])))
            return 0

        def full_scan():
            with tr.span("formats.read_merged"):
                df = wh.read_merged(TABLE)
            with tr.span("action.collect"):
                got = {r.tag: (r.n, r.s) for r in df.groupBy("tag").agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("amount").alias("s")).collect()}
            self.checks.append((self.ctx.op_id, cls, got, sh.per_tag()))
            return 0

        def merge():
            path = str(self.data / spec["file"])
            before = self._table_bytes()
            with tr.span("formats.merge"):
                wh.upsert_partitioned(TABLE, self.spark.read.parquet(path),
                                      KEYS, "ts", BUCKETS)
            sh.upsert(*_tx_arrays(path))
            self._written(before, Path(path).stat().st_size)
            return spec["rows"]

        def dv_delete():
            path = str(self.data / spec["file"])
            before = self._table_bytes()
            with tr.span("formats.delete_keys_dv"):
                n = fmt.delete_keys_dv(wh, TABLE, KEYS,
                                       self.spark.read.parquet(path), BUCKETS)
            keys = _key_list(path)
            want = int(sh.present[keys].sum())
            sh.present[keys] = False
            self.checks.append((self.ctx.op_id, cls, n, want))
            self._written(before, Path(path).stat().st_size)
            return n

        def compact():
            before = self._table_bytes()
            with tr.span("formats.compact"):
                fmt.compact(wh, TABLE, KEYS, BUCKETS)
            self._written(before, 0)
            return 0

        fn = {"point_lookup": lookup, "range_scan": range_scan,
              "full_scan": full_scan, "merge": merge,
              "dv_delete": dv_delete, "compact": compact}[cls]

        def run():
            if tr.enabled and KIND[cls] == "read":
                with tr.aside():
                    self.figs["dv_pending"].append(self._dv_pending())
            return fn()

        return Op(cls, KIND[cls], run)

    def _table_bytes(self) -> int:
        """On-disk table size, measured only when traced."""
        if not self.tr.enabled:
            return 0
        with self.tr.aside():
            return dir_bytes(self.wh.path(TABLE))

    def _written(self, before: int, user_bytes: int) -> None:
        if self.tr.enabled:
            self.figs["written"] += self._table_bytes() - before
            self.figs["user_bytes"] += user_bytes

    def warmup_ops(self) -> list[Op]:
        ops = self.inputs.schedule["ops"]
        return [self._op(spec) for spec in ops[:len(PERIOD)]]

    def timed_periods(self) -> list[list[Op]]:
        ops, n = self.inputs.schedule["ops"], len(PERIOD)
        return [[self._op(spec) for spec in ops[p * n:(p + 1) * n]]
                for p in range(1, 1 + self.ctx.periods)]

    # -- correctness --------------------------------------------------------
    def check(self) -> list[tuple[int | None, str]]:
        """(op id, message) per failed check; op id None for whole-run
        checks."""
        fails = []
        for op_id, cls, got, want in self.checks:
            if got != want:
                g, w = (got, want) if cls != "point_lookup" else (
                    sorted(got - want)[:3], sorted(want - got)[:3])
                fails.append((op_id, f"{cls}: got {g} want {w}"))
        df = self.wh.read_merged(TABLE)
        got = {r.tag: (r.n, r.s) for r in df.groupBy("tag").agg(
            F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s"),
        ).collect()}
        if got != self.shadow.per_tag():
            fails.append((None, f"final read_merged per-tag {got} != "
                                f"shadow {self.shadow.per_tag()}"))
        keys = df.agg(F.sum(F.col("key") * 7919 + F.col("ts").cast("long"))
                      ).collect()[0][0]
        sh = self.shadow
        m = sh.present
        want = int((np.nonzero(m)[0] * 7919 + sh.ts[m] + EPOCH_S).sum())
        if keys != want:
            fails.append((None, f"final read_merged key/ts checksum {keys} "
                                f"!= {want}"))
        snap, path = self._manifest()
        live = sum((Path(self.wh.path(TABLE)) / f).stat().st_size
                   for f in snap["files"])
        self.final = {"manifest_kb": path.stat().st_size / 1024,
                      "space_amp": dir_bytes(self.wh.path(TABLE)) / live,
                      "live_rows": int(m.sum())}
        return fails

    def layer_figures(self, records) -> dict:
        f = self.figs
        med = (lambda xs: float(np.median(xs)) if xs else 0.0)
        return {
            "formats.files_per_lookup": med(f["files_per_lookup"]),
            "formats.range_files_kept_ratio": med(f["range_kept"]),
            "formats.write_amp": f["written"] / max(1, f["user_bytes"]),
            "formats.space_amp": self.final["space_amp"],
            "formats.manifest_kb": self.final["manifest_kb"],
            "formats.dv_rows_pending": med(f["dv_pending"]),
        }

    def describe_inputs(self) -> dict:
        return dict(self.inputs.properties,
                    landed_bytes=self.inputs.total_bytes,
                    table_rows=self.final["live_rows"],
                    table_bytes=dir_bytes(self.wh.path(TABLE)))


def _key_list(path) -> np.ndarray:
    import pyarrow.parquet as pq

    return pq.read_table(path)["key"].to_numpy()

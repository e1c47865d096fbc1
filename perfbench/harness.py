"""Measurement plumbing shared by every workload: the in-memory span
tracer, engine counters read from outside the engine (Spark status
tracker, JVM GC beans, /proc), per-class latency statistics and run
provenance.

Nothing here imports the engine package, so the tracer and statistics can
be exercised without a Spark session.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import time
from dataclasses import dataclass

_NULL = contextlib.nullcontext()


class Tracer:
    """Spans kept in memory: ``[name, start, end, parent_index, op_id,
    aside_seconds]``.

    Spans nest by a stack (the benchmark is single-threaded), all spans
    opened while an op runs carry that op's id, and nothing is written
    until :meth:`dump` at the end of the run. When disabled, ``span``
    returns one shared null context, so the untraced path pays a method
    call and nothing else.

    Work done only to collect per-layer figures runs inside
    :meth:`aside`; its time is taken out of every span open around it
    and added to ``aside_s``, which ``run.py`` subtracts from the op's
    latency.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self.op_id: int | None = None
        self.aside_s = 0.0
        self._stack: list[int] = []

    def span(self, name: str):
        return self._span(name) if self.enabled else _NULL

    @contextlib.contextmanager
    def _span(self, name: str):
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op_id, 0.0]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def aside(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t
            self.aside_s += dt
            for i in self._stack:
                self.spans[i][5] += dt

    def durations(self) -> dict[str, list[float]]:
        """{span name: [seconds, ...]}, aside time excluded."""
        out: dict[str, list[float]] = {}
        for name, start, end, _, _, aside in self.spans:
            out.setdefault(name, []).append(end - start - aside)
        return out

    def self_times(self) -> dict[str, list[float]]:
        """{span name: [self seconds, ...]}; self time is the span's
        duration minus the time its children cover (children of one span
        run one after another, so their durations add up)."""
        covered = [0.0] * len(self.spans)
        for _, start, end, parent, _, aside in self.spans:
            if parent is not None:
                covered[parent] += end - start - aside
        out: dict[str, list[float]] = {}
        for (name, start, end, _, _, aside), c in zip(self.spans, covered):
            out.setdefault(name, []).append(end - start - aside - c)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [{"name": n, "start": s, "end": e, "parent": p, "op": o,
                  "aside": a}
                 for n, s, e, p, o, a in self.spans],
                f,
            )


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_steal_ticks() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


class EngineCounters:
    """Spark jobs/tasks per op from the status tracker (one job group per
    op) and JVM GC time from the GarbageCollectorMXBeans, read over py4j.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.tracker = self.sc.statusTracker()

    def jvm_pid(self) -> int:
        return int(self.jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, int(b.getCollectionTime())) for b in beans)

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        return len(jobs), tasks


@dataclass
class OpRecord:
    op_id: int
    cls: str
    kind: str            # "read" | "write"
    seconds: float
    ok: bool             # neither raised nor failed its own check
    rows: int = 0        # user rows committed (writes)
    jobs: int = 0
    tasks: int = 0
    gc_ms: int = 0
    error: str | None = None


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest of p90/p99/p99.9 that leaves >= 10 samples beyond it,
    as (percentile, value); (None, None) when even p90 has fewer."""
    # per mille, so the ">= 10 beyond" test is exact integer arithmetic
    fits = [pm for pm in (900, 990, 999) if len(values) * (1000 - pm) >= 10_000]
    if not fits:
        return None, None
    qs = statistics.quantiles(values, n=1000, method="inclusive")
    return fits[-1] / 10, qs[fits[-1] - 1]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


@dataclass
class ClassStats:
    kind: str
    n: int
    p50_ms: float
    tail_pct: float | None
    tail_ms: float | None


def class_stats(ops: list[OpRecord]) -> dict[str, ClassStats]:
    by: dict[str, list[OpRecord]] = {}
    for op in ops:
        if op.error is None:
            by.setdefault(op.cls, []).append(op)
    out = {}
    for cls, recs in by.items():
        ms = [r.seconds * 1000 for r in recs]
        pct, val = tail(ms)
        out[cls] = ClassStats(recs[0].kind, len(ms), statistics.median(ms),
                              pct, val)
    return out


def provenance(spark, seed: int, nproc: int) -> dict:
    return {
        "seed": seed,
        "nproc": nproc,
        "loadavg_start": loadavg(),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }


@dataclass
class Op:
    """One closed-loop operation: ``fn`` runs it to completion and
    returns the user rows it committed (0 for reads)."""
    cls: str
    kind: str
    fn: object


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    periods: int               # timed periods (batches) after one warm-up
    op_id: int | None = None   # the op now running; checks cite it


def dir_bytes(path) -> int:
    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
    return total


def parquet_rows(path) -> int:
    """Rows in every Parquet file under ``path``, from footers only."""
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += pq.ParquetFile(os.path.join(dirpath, n)) \
                    .metadata.num_rows
    return total

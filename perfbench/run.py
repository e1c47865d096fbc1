#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload graph_ingest --seed 1 --seconds 16 --trace 0

Run from the repository root. The run generates its inputs from the seed
into a fresh directory under ``.perfbench/`` (deleted at exit), starts one
Spark session on ``local[nproc]``, loads and warms up, then replays a
fixed op schedule (sized from ``--seconds``) and checks every result
outside the timed window.

``--trace 0`` prints the end-to-end metrics and stores its per-class
medians under ``.perfbench-results/``. ``--trace 1`` traces every op and
prints the per-layer metrics, span self times and the tracing overhead
against the untraced run of the same workload, seed, schedule and
sources: the stored one, or else one it runs first in a child process.
Metric names and units come from ``BENCHMARK.json``. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. The exit code is non-zero when any check fails.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# per-class medians of untraced runs, the reference of traced runs
RESULTS = ROOT / ".perfbench-results"

# workload -> its parts (module, class). A workload of several parts
# runs them in one session and one closed loop: each timed period runs
# one period of every part, in this order.
WORKLOADS = {
    "graph_ingest": [("graph_ingest", "GraphIngest")],
    "txlog_curate": [("txlog_serve", "TxlogServe"),
                     ("corpus_dedup", "CorpusDedup")],
}

# Driver JVM heap, pinned (-Xms = -Xmx) with a fixed young generation so
# the resident set does not follow G1's adaptive sizing from run to run.
DRIVER_HEAP = "2g"
DRIVER_JAVA_OPTS = f"-Xms{DRIVER_HEAP} -Xmn512m"

# per-layer metric -> (span name, "total" | "self"); value is the median
# over traced spans, in ms
SPAN_METRICS = {
    "sources.profile_read_ms": ("sources.read_profile_jsonl", "total"),
    "scheduler.enqueue_ms": ("scheduler.enqueue_users", "total"),
    "scheduler.tick_self_ms": ("scheduler.tick", "self"),
    "manual.upsert_profiles_ms": ("manual.upsert_profiles", "total"),
    "manual.append_edges_ms": ("manual.append_edges", "total"),
    "manual.derive_mutuals_ms": ("manual.derive_mutuals", "total"),
    "manual.analyze_interests_ms": ("manual.analyze_interests", "total"),
    "io.overwrite_atomic_ms": ("io.overwrite_atomic", "total"),
    "operators.key_lookup_ms": ("op.key_lookup", "total"),
    "operators.edge_count_ms": ("op.edge_count", "total"),
    "operators.interest_detail_ms": ("op.interest_detail", "total"),
    "operators.mutual_counts_ms": ("op.mutual_counts", "total"),
    "formats.read_for_keys_ms": ("formats.read_for_keys", "total"),
    "formats.read_for_range_ms": ("formats.read_for_range", "total"),
    "formats.read_merged_ms": ("formats.read_merged", "total"),
    "formats.merge_ms": ("formats.merge", "total"),
    "formats.delete_keys_dv_ms": ("formats.delete_keys_dv", "total"),
    "formats.compact_ms": ("formats.compact", "total"),
    "streaming.neardup_batch_ms": ("streaming.neardup.process_batch",
                                   "total"),
    "streaming.ivf_batch_ms": ("streaming.ivf.process_batch", "total"),
    "extensions.ivf_topk_ms": ("op.ivf_topk", "total"),
}
def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark, its child run and its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "instagram_data_pipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package not found under {ROOT}",
              file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    reference = untraced_reference(args) if args.trace else None
    sys.path[:0] = [str(HERE), str(ROOT)]
    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        # every JVM (launcher and driver) keeps its temp files in the run
        # directory and writes no hsperfdata file
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
        PYTHONPATH=os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    )
    try:
        return run(args, work, nproc, units, reference)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only if no other run is using it
        except OSError:
            pass


def result_path(args) -> Path:
    return RESULTS / f"{args.workload}-s{args.seed}-t{args.seconds}.json"


def source_digest() -> str:
    """Digest of the engine and benchmark sources, so a stored untraced
    result serves only traced runs of the same code."""
    h = hashlib.sha256()
    engine = ROOT / "instagram_data_pipeline_spark"
    for path in sorted([*engine.rglob("*.py"), *HERE.glob("*.py"),
                        ROOT / "BENCHMARK.json"]):
        h.update(path.read_bytes())
    return h.hexdigest()


def stored_reference(args) -> dict | None:
    path = result_path(args)
    if not path.is_file():
        return None
    ref = json.loads(path.read_text())
    return ref["classes"] if ref["source"] == source_digest() else None


def untraced_reference(args) -> tuple[dict | None, float]:
    """Per-class median ms of the untraced run with the same workload,
    seed and schedule (None if it failed), and the seconds spent here,
    which the traced run's set-up leaves out. Without a stored result,
    the untraced run runs first, in a child process, before this run
    starts Spark."""
    t = time.perf_counter()
    if stored_reference(args) is None:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload",
               args.workload, "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", "0"]
        log("untraced reference run: " + " ".join(cmd[1:]))
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL)
        try:
            proc.wait()
        finally:
            if proc.poll() is None:
                proc.terminate()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
    return stored_reference(args), time.perf_counter() - t


def start_session(work: Path):
    from instagram_data_pipeline_spark.session import build_session

    return build_session(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTS,
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, work: Path, nproc: int, units: dict, reference) -> int:
    import importlib

    from harness import (
        Ctx,
        EngineCounters,
        OpRecord,
        Tracer,
        class_stats,
        cpu_steal_ticks,
        geomean,
        loadavg,
        provenance,
        vm_hwm_kb,
    )

    # a traced run's set-up starts after its untraced reference run
    t0 = T_START + (reference[1] if reference else 0.0)
    tracer = Tracer(False)
    log(f"starting Spark on local[{nproc}]")
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        counters = EngineCounters(spark)
        steal0 = cpu_steal_ticks()
        prov = provenance(spark, args.seed, nproc)
        classes = [getattr(importlib.import_module(m), c)
                   for m, c in WORKLOADS[args.workload]]
        # timed periods from --seconds and the parts' planned period cost,
        # so equal --seconds means identical work
        periods = max(1, round(args.seconds
                               / sum(c.period_seconds for c in classes)))
        ctx = Ctx(spark, tracer, args.seed, periods)
        parts = [c(ctx) for c in classes]

        # -- set-up: inputs, initial load, warm-up ---------------------------
        t = time.perf_counter()
        inputs = [p.generate() for p in parts]
        data = work / "data"
        for i in inputs:
            i.write(data)
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        for p, i in zip(parts, inputs):
            p.load(i, data, work / "state" / p.name)
        load_s = time.perf_counter() - t
        sc = spark.sparkContext
        t = time.perf_counter()
        op_id = 0
        for op in [op for p in parts for op in p.warmup_ops()]:
            ctx.op_id = op_id
            sc.setJobGroup(f"warm{op_id}", op.cls)
            op.fn()
            op_id += 1
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t0
        setup_parts = {"session": session_s, "inputs": gen_s, "load": load_s,
                       "warm_up": warm_s}
        log(f"set-up {setup_s:.2f}s {setup_parts}")

        # -- the timed window ------------------------------------------------
        records: list[OpRecord] = []
        t_w0 = time.perf_counter()
        for n, period in enumerate(zip(*(p.timed_periods() for p in parts))):
            t = time.perf_counter()
            for op in [op for ops in period for op in ops]:
                ctx.op_id = op_id
                records.append(run_op(op, op_id, bool(args.trace), tracer,
                                      counters, sc))
                op_id += 1
            log(f"period {n}: {time.perf_counter() - t:.2f}s")
        window_s = time.perf_counter() - t_w0
        rss_kb = {"jvm": vm_hwm_kb(counters.jvm_pid()), "python": vm_hwm_kb()}
        rss_mb = sum(rss_kb.values()) / 1024
        log(f"window {window_s:.2f}s, {len(records)} ops")

        # -- correctness (outside the window) --------------------------------
        # an op fails when it raised or its own check failed; whole-run
        # checks (op id None) fail the run without failing an op
        t = time.perf_counter()
        fails = [f"op {r.op_id} {r.cls} raised {r.error}"
                 for r in records if r.error]
        by_id = {r.op_id: r for r in records}
        for failed_op, msg in [f for p in parts for f in p.check()]:
            if failed_op in by_id:
                by_id[failed_op].ok = False
            fails.append(msg if failed_op is None
                         else f"op {failed_op}: {msg}")
        if [i.digest() for i in inputs] != [p.generate().digest()
                                             for p in parts]:
            fails.append("the same seed generated different inputs")
        if args.trace and reference[0] is None:
            fails.append("the untraced reference run failed")
        log(f"checks {time.perf_counter() - t:.2f}s, {len(fails)} failed")

        prov.update(driver_heap=DRIVER_HEAP,
                    driver_java_options=DRIVER_JAVA_OPTS,
                    loadavg_end=loadavg(),
                    cpu_steal_ticks=cpu_steal_ticks() - steal0,
                    window_s=window_s, setup_s=setup_parts,
                    peak_rss_kb=rss_kb)
        heap = int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
        bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        described = {p.name: p.describe_inputs() for p in parts}
        landed = sum(d["landed_bytes"] for d in described.values())
        biggest = max(max(d.get("table_bytes", 0), d["landed_bytes"])
                      for d in described.values())
        described.update(
            broadcast_threshold=bcast, driver_heap_bytes=heap,
            landed_over_heap=landed / heap,
            biggest_over_broadcast_threshold=biggest / _bytes(bcast))

        stats = class_stats(records)
        failed = sum(not r.ok for r in records)
        print(f"perfbench {args.workload} seed={args.seed} "
              f"seconds={args.seconds} trace={args.trace}")
        print("provenance " + json.dumps(prov))
        print("inputs " + json.dumps(described))
        for name, s in sorted(stats.items()):
            print(f"  op {name:18s} {s.kind:5s} n={s.n:3d} "
                  f"p50={s.p50_ms:9.1f} ms  tail={s.tail_pct}:{s.tail_ms}")
        for f in fails:
            print(f"  CHECK FAILED: {f}")
        if args.trace:
            values = layer_values(parts, tracer, records, stats, reference[0],
                                  session_s)
            print("spans " + json.dumps(span_detail(tracer, records)))
            tracer.dump(str(trace_path(args)))
        else:
            if not fails:
                RESULTS.mkdir(exist_ok=True)
                result_path(args).write_text(json.dumps({
                    "source": source_digest(),
                    "classes": {c: s.p50_ms for c, s in stats.items()}}))
            reads = [s.p50_ms for s in stats.values() if s.kind == "read"]
            writes = [s.p50_ms for s in stats.values() if s.kind == "write"]
            committed = sum(r.rows for r in records if r.ok)
            values = {
                "setup_s": setup_s,
                "ops_per_s": len(records) / window_s,
                "rows_per_s": committed / window_s,
                "read_p50_geomean_ms": geomean(reads) if reads else 0.0,
                "write_p50_geomean_ms": geomean(writes) if writes else 0.0,
                "peak_rss_mb": rss_mb,
            }
        # names and units from BENCHMARK.json; 0 for a layer the
        # workload bypasses
        metrics = {k: {"value": values.get(k, 0.0), "unit": u}
                   for k, u in units.items()}
        for k, m in metrics.items():
            print(f"  {k:34s} {m['value']:.6g} {m['unit']}")
        print(f"  {'error_rate':34s} {failed / len(records):.6g} fraction")
        print(json.dumps({"correct": not fails, "attempted": len(records),
                          "failed": failed, "metrics": metrics}))
        sys.stdout.flush()
        return 0 if not fails else 1
    finally:
        stop_session(spark)


def run_op(op, op_id, traced, tracer, counters, sc):
    from harness import OpRecord

    group = f"op{op_id}"
    sc.setJobGroup(group, op.cls)
    tracer.enabled, tracer.op_id = traced, op_id
    gc0 = counters.gc_ms() if traced else 0
    aside0 = tracer.aside_s
    rec = OpRecord(op_id, op.cls, op.kind, 0.0, True)
    t = time.perf_counter()
    try:
        with tracer.span(f"op.{op.cls}"):
            rec.rows = int(op.fn() or 0)
    except Exception as exc:  # noqa: BLE001 — counted as a failed op
        rec.ok, rec.error = False, repr(exc)
        traceback.print_exc(file=sys.stderr)
    # figure collection inside the op (Tracer.aside) is not op latency
    rec.seconds = time.perf_counter() - t - (tracer.aside_s - aside0)
    tracer.enabled, tracer.op_id = False, None
    if traced:
        rec.jobs, rec.tasks = counters.jobs_and_tasks(group)
        rec.gc_ms = counters.gc_ms() - gc0
    return rec


def _bytes(conf_value: str) -> int:
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    v = conf_value.strip().lower().rstrip("b") or "0"
    if v[-1] in units:
        return int(float(v[:-1]) * units[v[-1]])
    return int(v)


def trace_path(args) -> Path:
    out = ROOT / ".perfbench-traces"
    out.mkdir(exist_ok=True)
    return out / f"{args.workload}-s{args.seed}.json"


def layer_values(parts, tracer, records, stats, reference, session_s) -> dict:
    """Per-layer values of a traced run: span medians, the workload's own
    figures, engine counters, and the tracing overhead, the geometric
    mean over op classes of traced ÷ untraced (``reference``) median
    latency, minus 1."""
    from harness import geomean

    totals, selfs = tracer.durations(), tracer.self_times()
    out = {}
    for name, (span, kind) in SPAN_METRICS.items():
        xs = (selfs if kind == "self" else totals).get(span, [])
        out[name] = statistics.median(xs) * 1000 if xs else 0.0
    for p in parts:
        out.update(p.layer_figures(records))
    ok = [r for r in records if r.ok]
    ratios = [stats[c].p50_ms / reference[c]
              for c in stats if c in (reference or {})]
    out.update({
        "session.start_s": session_s,
        "spark.jobs_per_op": sum(r.jobs for r in ok) / len(ok),
        "spark.tasks_per_op": sum(r.tasks for r in ok) / len(ok),
        "jvm.gc_ms_per_op": sum(r.gc_ms for r in ok) / len(ok),
        "trace.overhead_ratio": geomean(ratios) - 1 if ratios else 0.0,
    })
    return out


def span_detail(tracer, records) -> dict:
    """Per span name: count, median total and self ms; per op class:
    jobs, tasks and GC ms."""
    totals, selfs = tracer.durations(), tracer.self_times()
    spans = {
        name: {"n": len(xs),
               "total_p50_ms": round(statistics.median(xs) * 1000, 3),
               "self_p50_ms": round(statistics.median(selfs[name]) * 1000, 3)}
        for name, xs in sorted(totals.items())
    }
    engine: dict[str, dict] = {}
    for r in records:
        e = engine.setdefault(r.cls, {"n": 0, "jobs": 0, "tasks": 0,
                                      "gc_ms": 0})
        e["n"] += 1
        e["jobs"] += r.jobs
        e["tasks"] += r.tasks
        e["gc_ms"] += r.gc_ms
    return {"spans": spans, "engine_per_class": engine}


if __name__ == "__main__":
    sys.exit(main())

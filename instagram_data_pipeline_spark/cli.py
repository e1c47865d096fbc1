"""CLI entry point — the reference's three run modes (main.py:129-151)
over the Spark engine.

    python -m instagram_data_pipeline_spark.cli --mode manual \
        --warehouse /tmp/wh --profile p.parquet \
        --followers f.parquet --following g.parquet
    python -m instagram_data_pipeline_spark.cli --mode scheduled \
        --warehouse /tmp/wh --usernames alice,bob [--ticks 1]
    python -m instagram_data_pipeline_spark.cli --mode analysis \
        --warehouse /tmp/wh [--limit 5]

Live HTTP ingestion (Instaloader/Selenium/proxies — SURVEY §2.1 S3-S7) is
an ingest-side concern outside the engine; --mode manual takes landed
parquet inputs where the reference took a username to scrape.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import sys

from .plans.manual import Pipeline
from .plans.scheduler import JobScheduler
from .session import build_session


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="instagram_data_pipeline_spark")
    ap.add_argument("--mode", choices=["manual", "scheduled", "analysis"],
                    required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--profile", help="parquet of users-shaped profile rows")
    ap.add_argument("--followers", help="parquet of followers edges")
    ap.add_argument("--following", help="parquet of following edges")
    ap.add_argument("--usernames", help="comma-separated enqueue targets")
    ap.add_argument("--ticks", type=int, default=1,
                    help="scheduler ticks to run (the reference looped forever)")
    ap.add_argument("--limit", type=int, default=5)
    ap.add_argument("--now", help="pinned engine timestamp (ISO); default: real now")
    args = ap.parse_args(argv)

    now = dt.datetime.fromisoformat(args.now) if args.now else dt.datetime.now()
    spark = build_session(app_name=f"pipeline-{args.mode}")
    pipe = Pipeline(spark, args.warehouse, now=now)

    if args.mode == "manual":
        missing = [k for k in ("profile", "followers", "following")
                   if not getattr(args, k)]
        if missing:
            ap.error(f"--mode manual requires --{', --'.join(missing)}")
        stats = pipe.run_manual(
            spark.read.parquet(args.profile),
            spark.read.parquet(args.followers),
            spark.read.parquet(args.following),
        )
        print(json.dumps({"mode": "manual", **stats}))
    elif args.mode == "scheduled":
        sched = JobScheduler(spark, pipe.wh, now=now)
        enq = sched.enqueue_users(
            [u for u in (args.usernames or "").split(",") if u]
        )
        handlers = {
            # landed-data deployment: profile/edges already in the
            # warehouse; jobs mark orchestration progress (SURVEY §3.2)
            "profile": lambda u: None,
            "followers": lambda u: None,
            "following": lambda u: None,
        }
        totals = {"enqueued": enq, "dispatched": 0, "completed": 0, "failed": 0}
        for _ in range(args.ticks):
            fired: list[str] = []
            t = sched.process_pending_jobs(handlers, on_both_complete=fired.append)
            # one whole-graph derivation covers every user that fired
            if fired:
                pipe.derive_mutuals()
            for k in ("dispatched", "completed", "failed"):
                totals[k] += t[k]
        print(json.dumps({"mode": "scheduled", **totals}))
    else:  # analysis
        pipe.analyze_interests(limit=args.limit)
        print(json.dumps({
            "mode": "analysis",
            "interests_total": pipe.wh.read("interests").count(),
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

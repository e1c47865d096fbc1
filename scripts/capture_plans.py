#!/usr/bin/env python
"""Capture .explain("formatted") for named queries into an output dir.

    python scripts/capture_plans.py --out /tmp/plans --suffix _before q1 q2 ...

With no query names: the full bench set (headline + extras).
"""

from __future__ import annotations

import argparse
import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from bench import BENCH_QUERIES, EXTRA_QUERIES

    from instagram_data_pipeline_spark.queries import load_all
    from instagram_data_pipeline_spark.session import build_session

    names = args.names or (BENCH_QUERIES + EXTRA_QUERIES)
    spark = build_session(app_name="capture_plans")
    reg = load_all()
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = reg[name].spark_fn(spark, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        (out / f"{name}{args.suffix}.txt").write_text(buf.getvalue())
        print(f"captured {name}{args.suffix}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Per-query isolation bench (guide §1.4): times each heavy query's
build (DataFrame construction, incl. any eager jobs) and noop-sink
execution separately, best-of-N, one JSON line per run.

This is the working-measurement harness for optimization round 8 —
bench.py stays frozen (driver contract); numbers cited in
OPTIMIZATION_r08.md come from here unless marked as full-bench runs.

Usage: python tools/bench_extra.py [--sf-dir D] [--reps N] [--only substr]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import HEAVY  # noqa: E402
from companycatalogcrawlerparser_spark.session import get_spark  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    spark = get_spark("bench_extra")
    qs = entrymod.queries()
    names = [n for n in HEAVY if not args.only or args.only in n]
    out = {}
    for name in names:
        samples = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            df = qs[name](spark, args.sf_dir)
            t_build = time.monotonic() - t0
            df.write.format("noop").mode("overwrite").save()
            t_total = time.monotonic() - t0
            samples.append((round(t_build, 3), round(t_total, 3)))
            spark.sparkContext.setJobDescription(None)
        out[name] = {
            "build_best": min(s[0] for s in samples),
            "total_best": min(s[1] for s in samples),
            "samples": samples,
        }
        print(f"{name}: {out[name]}", file=sys.stderr, flush=True)
    print(json.dumps({"sf_dir": args.sf_dir, "reps": args.reps, "queries": out}))
    spark.stop()


if __name__ == "__main__":
    main()

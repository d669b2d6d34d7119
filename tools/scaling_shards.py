"""Data-parallel sharding experiment (round-4 scaling evidence).

The crawl is embarrassingly partitionable by company: every url_seen
scope except the seed round is per-company, and the synthetic corpus
gives each company its own host, so a seed-range shard crawls with ZERO
cross-shard coordination. That is exactly how a real fleet scales this
job — partition the seed list, run N independent executors-worth of
work, merge the per-shard email bags with one final F10/K5 pass.

This script runs that shape on the sandbox's one VM:

1. one shard alone in a ``local[8]`` JVM (the per-worker capability);
2. all S shards CONCURRENTLY, one ``local[8]`` JVM each (the 4N-worker
   fleet, minus the real fleet's per-node kernels);
3. the full seed list in ONE ``local[8]`` JVM (merged-output reference).

Outputs:
- aggregate shard throughput vs 1-shard throughput → scaling efficiency
  with NO cross-JVM shuffle at all (pure data parallelism). If this pair
  still degrades while per-JVM isolated throughput holds, the binding
  constraint is the shared VM kernel (one page cache, one scheduler, one
  loopback), not the engine's plans — the resource a real 4-node fleet
  multiplies.
- merged-output equality: XOR-of-row-hashes over distinct
  ``(company_id, email)`` pairs per shard; shards partition companies,
  so the merged hash is the XOR of shard hashes and must equal the full
  single-JVM run's hash (and the pair counts must sum).

Usage:
    python tools/scaling_shards.py --companies 400000 --filler-kb 30 \
        [--corpus-dir /tmp/scaling_corpus_r4] [--shards 4]

Appends a section to BENCH/BASELINE.md and writes
BENCH/scaling_shards_r{--tag}.json.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _shard_job(args) -> None:
    """Subprocess: crawl shard k of S (or the full list when k < 0) in a
    fresh local[8] JVM; write metrics + output hash as JSON."""
    from pyspark.sql import functions as F

    from companycatalogcrawlerparser_spark.plans.crawl import (
        CrawlConfig, run_crawl,
    )
    from companycatalogcrawlerparser_spark.session import get_spark

    spark = get_spark(
        app_name=f"shard_{args.shard_k}",
        master="local[8]",
        shuffle_partitions=8,
    )
    pages = spark.read.parquet(f"{args.corpus_dir}/pages")
    seeds = spark.read.parquet(f"{args.corpus_dir}/seeds")
    if args.shard_k >= 0:
        seeds = seeds.filter(
            F.col("company_id") % args.shards == args.shard_k
        )
    out_dir = tempfile.mkdtemp(prefix=f"shard_{args.shard_k}_")
    cfg = CrawlConfig(
        num_partitions=8, n_buckets=64,
        take_limit=args.companies,
    )
    t0 = time.monotonic()
    res = run_crawl(spark, pages, seeds, out_dir, cfg)
    agg = res["trace"].agg(
        F.count("*").alias("dequeued"),
        F.sum(F.when(F.col("action") == "fetched", 1).otherwise(0)).alias(
            "fetched"
        ),
    ).first()
    # order-insensitive output digest: XOR of per-row 64-bit hashes over
    # the distinct post-F10 (company_id, email) pairs. XOR is
    # associative+commutative and company-disjoint shards have disjoint
    # rows, so merged hash == XOR of shard hashes — the merge step is a
    # pure union, verified against the full run without re-shuffling.
    pairs = res["email_pairs"].select("company_id", "email").distinct()
    h = pairs.select(
        F.expr("bit_xor(xxhash64(company_id, email))").alias("h"),
        F.count("*").alias("n"),
    ).first()
    elapsed = time.monotonic() - t0
    out = {
        "shard": args.shard_k,
        "elapsed_sec": round(elapsed, 2),
        "pages_fetched": int(agg["fetched"]),
        "frontier_dequeued": int(agg["dequeued"]),
        "pages_per_sec": round(int(agg["fetched"]) / elapsed, 1),
        "email_pairs": int(h["n"]),
        "pairs_hash": int(h["h"]) if h["h"] is not None else 0,
        "t_start": t0,
        "t_end": t0 + elapsed,
    }
    with open(args.json_out, "w") as f:
        json.dump(out, f)
    spark.stop()


def _spawn(k: int, args, json_out: str) -> subprocess.Popen:
    cmd = [
        sys.executable, os.path.abspath(__file__), "--shard-job",
        "--shard-k", str(k), "--shards", str(args.shards),
        "--companies", str(args.companies),
        "--corpus-dir", args.corpus_dir, "--json-out", json_out,
    ]
    return subprocess.Popen(cmd, cwd=REPO)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--companies", type=int, default=400000)
    ap.add_argument("--filler-kb", type=int, default=30)
    ap.add_argument("--shards", type=int, default=4)
    ap.add_argument("--corpus-dir", default=None)
    ap.add_argument("--tag", default="r4")
    ap.add_argument("--skip-full", action="store_true")
    # internal
    ap.add_argument("--shard-job", action="store_true")
    ap.add_argument("--shard-k", type=int, default=-1)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()
    if args.shard_job:
        _shard_job(args)
        return

    corpus_dir = args.corpus_dir or tempfile.mkdtemp(prefix="shard_corpus_")
    args.corpus_dir = corpus_dir
    if not os.path.exists(f"{corpus_dir}/pages"):
        from companycatalogcrawlerparser_spark.session import get_spark
        import bench

        spark = get_spark("gen", master="local[32]", shuffle_partitions=32)
        bench.gen_corpus(spark, args.companies, corpus_dir, args.filler_kb)
        spark.stop()

    results: dict = {"workload": {
        "companies": args.companies, "shards": args.shards,
        "filler_kb": args.filler_kb, "corpus_dir": corpus_dir,
    }}

    def read(p):
        with open(p) as f:
            return json.load(f)

    # 1. one shard alone (per-worker capability on a quiet host)
    solo_out = os.path.join(corpus_dir, "shard_solo.json")
    p = _spawn(0, args, solo_out)
    assert p.wait() == 0
    results["solo"] = read(solo_out)
    print(json.dumps({"solo": results["solo"]}), flush=True)

    # 2. all shards concurrently (the fleet, minus per-node kernels)
    outs = [
        os.path.join(corpus_dir, f"shard_c{k}.json")
        for k in range(args.shards)
    ]
    t0 = time.monotonic()
    procs = [_spawn(k, args, outs[k]) for k in range(args.shards)]
    rcs = [p.wait() for p in procs]
    wall = time.monotonic() - t0
    assert all(rc == 0 for rc in rcs), rcs
    shards = [read(o) for o in outs]
    results["concurrent"] = {
        "wall_sec": round(wall, 2),
        "shards": shards,
        "pages_fetched": sum(s["pages_fetched"] for s in shards),
        "agg_pages_per_sec": round(
            sum(s["pages_fetched"] for s in shards) / wall, 1
        ),
    }
    print(json.dumps({"concurrent": results["concurrent"]}), flush=True)

    # 3. full single-JVM run (merged-output reference)
    if not args.skip_full:
        full_out = os.path.join(corpus_dir, "shard_full.json")
        p = _spawn(-1, args, full_out)
        assert p.wait() == 0
        results["full"] = read(full_out)
        print(json.dumps({"full": results["full"]}), flush=True)

        merged_hash = 0
        for s in shards:
            merged_hash ^= s["pairs_hash"]
        results["merge_check"] = {
            "merged_pairs": sum(s["email_pairs"] for s in shards),
            "full_pairs": results["full"]["email_pairs"],
            "merged_hash": merged_hash,
            "full_hash": results["full"]["pairs_hash"],
            "equal": (
                merged_hash == results["full"]["pairs_hash"]
                and sum(s["email_pairs"] for s in shards)
                == results["full"]["email_pairs"]
            ),
        }

    solo_tp = results["solo"]["pages_per_sec"]
    agg_tp = results["concurrent"]["agg_pages_per_sec"]
    results["efficiency_shards"] = round(agg_tp / solo_tp / args.shards, 3)

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    out_path = os.path.join(
        REPO, "BENCH", f"scaling_shards_{args.tag}.json"
    )
    with open(out_path, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps({
        "metric": "sharded scaling efficiency (1 -> %d local[8] JVMs, zero cross-JVM shuffle)" % args.shards,
        "value": results["efficiency_shards"],
        "unit": "ratio",
        "solo_pages_per_sec": solo_tp,
        "agg_pages_per_sec": agg_tp,
        "merge_equal": results.get("merge_check", {}).get("equal"),
        "out": out_path,
    }))


if __name__ == "__main__":
    main()

"""The two workloads: one crawl through ``plans.crawl.run_crawl`` and the
curation rows of ``__spark_entry__.queries()``.

Each ``time_*`` function runs the timed region once and returns its wall
time with the outputs' checksums, which the checks compare untimed.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

# -- order-independent checksums ---------------------------------------------

_HASH_MOD = 2_147_483_647


def _hashable(df: DataFrame) -> list:
    """Columns with floating values rounded to 6 places, so a checksum
    does not depend on summation order in the last bits."""
    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (T.DoubleType, T.FloatType)):
            c = F.round(c.cast("double"), 6)
        elif isinstance(t, T.ArrayType) and isinstance(
                t.elementType, (T.DoubleType, T.FloatType)):
            c = F.transform(c, lambda x: F.round(x.cast("double"), 6))
        elif isinstance(t, (T.MapType, T.StructType, T.ArrayType)):
            c = F.to_json(c)
        cols.append(c)
    return cols


def checksum_exprs(df: DataFrame) -> list:
    h = F.xxhash64(*_hashable(df))
    return [F.count(F.lit(1)).alias("rows"),
            F.sum(F.pmod(h, F.lit(_HASH_MOD))).alias("hash")]


def checksum(df: DataFrame) -> list:
    r = df.agg(*checksum_exprs(df)).first()
    return [int(r["rows"]), int(r["hash"] or 0)]


def write_noop_checked(df: DataFrame, name: str) -> list:
    """Materialize ``df`` to the noop sink; its checksum is observed by
    the same job instead of a second pass."""
    obs = Observation(name)
    df.observe(obs, *checksum_exprs(df)).write.format("noop").mode(
        "overwrite").save()
    got = obs.get
    return [int(got["rows"]), int(got["hash"] or 0)]


# -- crawl -------------------------------------------------------------------

def crawl_config(cores: int):
    from companycatalogcrawlerparser_spark.plans.crawl import CrawlConfig

    # defaults (manifest counters on); partitions sized as bench.py does
    return CrawlConfig(num_partitions=max(cores, 8))


def load_corpus(spark, corpus_dir: str):
    from companycatalogcrawlerparser_spark.sources import webgen

    pages = spark.read.schema(webgen.PAGES_SCHEMA).parquet(f"{corpus_dir}/pages")
    seeds = spark.read.schema(webgen.SEEDS_SCHEMA).parquet(f"{corpus_dir}/seeds")
    return pages, seeds


def time_crawl(spark, corpus_dir: str, store_dir: str, cores: int, tracer=None):
    """run_crawl → emails and company_email materialized. Returns
    (seconds, result tables, {output: checksum}, the root span or None)."""
    from companycatalogcrawlerparser_spark.plans.crawl import run_crawl

    span = tracer.span if tracer else (lambda _name: nullcontext())
    pages, seeds = load_corpus(spark, corpus_dir)
    sums = {}
    t0 = time.monotonic()
    with span("crawl") as root:
        res = run_crawl(spark, pages, seeds, store_dir, crawl_config(cores))
        for name in ("emails", "company_email"):
            with span("finalize"):
                sums[name] = write_noop_checked(res[name], name)
    return time.monotonic() - t0, res, sums, root


def crawl_record(res: dict) -> dict:
    """Counts and checksums of every crawl output (untimed)."""
    agg = res["trace"].agg(
        F.count("*").alias("dequeued"),
        F.sum(F.when(F.col("action") == "fetched", 1).otherwise(0)).alias("fetched"),
        F.sum(F.when(F.col("action") == "error", 1).otherwise(0)).alias("errors"),
    ).first()
    rec = {
        "dequeued": int(agg["dequeued"]),
        "fetched": int(agg["fetched"] or 0),
        "errors": int(agg["errors"] or 0),
        "email_pairs": res["email_pairs"].count(),
    }
    for name in ("flags", "trace", "url_seen"):
        rec[name] = checksum(res[name])
    return rec


def politeness_violations(trace: DataFrame, delay_ms: int) -> int:
    """(round, host) pairs whose dequeue ranks are not dense 0..n-1 or
    whose not_before stamps are not rank × delay — the audit of
    ``bench.py --audit-politeness``."""
    return (
        trace.groupBy("round", "host")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("host_rank").alias("d"),
            F.max("host_rank").alias("mx"),
            F.sum(F.when(F.col("not_before") != F.col("host_rank") * delay_ms, 1)
                  .otherwise(0)).alias("w"),
        )
        .filter((F.col("d") != F.col("n")) | (F.col("mx") != F.col("n") - 1)
                | (F.col("w") > 0))
        .count()
    )


def crawl_replays(spark, corpus_dir: str, store_dir: str, cores: int) -> dict:
    """Layers that run lazily inside the fetch+extract checkpoint, timed
    alone by replaying their public function on what the crawl committed:
    round 1's url-seen filter and schedule, and the redirect closure.
    The candidate frame mirrors ``run_crawl`` for rounds after the first."""
    from pyspark.sql import Window

    from companycatalogcrawlerparser_spark.functions.canon import canonicalize_url
    from companycatalogcrawlerparser_spark.functions.predicates import (
        is_not_image_script_css_ext,
    )
    from companycatalogcrawlerparser_spark.operators import frontier as FR
    from companycatalogcrawlerparser_spark.operators.urlseen import UrlSeen, seen_key
    from companycatalogcrawlerparser_spark.sources.pages import redirect_map
    from companycatalogcrawlerparser_spark.storage.snapshots import SnapshotStore

    cfg = crawl_config(cores)
    store = SnapshotStore(spark, store_dir)
    out = {}

    def timed_noop(df):
        t = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t

    pages, _ = load_corpus(spark, corpus_dir)
    out["redirects.wall_s"] = timed_noop(redirect_map(pages))

    useen = UrlSeen(spark, n_buckets=cfg.n_buckets, filter_kind=cfg.url_seen_filter)
    useen.set_blooms(store.read(0, "blooms"))
    seen = store.read(0, "url_seen")
    cand = (
        store.read(0, "frontier_next")
        .withColumn("canonical_url", canonicalize_url(F.col("url")))
        .withColumn("scope", F.col("company_id").cast("string"))
        .withColumn("seen_key", seen_key(F.col("scope"), F.col("canonical_url")))
    )
    w = Window.partitionBy("company_id", "url").orderBy("priority", "seq")
    cand = (cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")).localCheckpoint(eager=True)
    out["urlseen.in_rows"] = cand.count()
    unseen = useen.filter_unseen(cand, seen)
    out["urlseen.filter_s"] = timed_noop(unseen)
    frontier = unseen.drop("seen_key", "scope", "canonical_url").filter(
        (F.col("url") != "") & is_not_image_script_css_ext(F.col("url"))
    ).localCheckpoint(eager=True)
    out["urlseen.out_rows"] = frontier.count()
    sched = FR.salted(
        FR.schedule(frontier, default_delay_ms=cfg.delay_ms), cfg.num_partitions)
    out["frontier.schedule_s"] = timed_noop(sched)
    salts = [r["n"] for r in sched.groupBy("host_salt").count()
             .withColumnRenamed("count", "n").collect()]
    out["frontier.salt_skew"] = (max(salts) * len(salts) / sum(salts)) if salts else 0.0
    out["frontier.max_host_rank"] = int(
        store.read_union("trace").agg(F.max("host_rank")).first()[0] or 0)
    return out


def store_files(store_dir: str) -> dict:
    """{table: (files, bytes)} of the parquet the crawl committed."""
    out = {}
    data = os.path.join(store_dir, "data")
    for rnd in os.listdir(data):
        for table in os.listdir(os.path.join(data, rnd)):
            tdir = os.path.join(data, rnd, table)
            files = [os.path.join(tdir, f) for f in os.listdir(tdir)
                     if f.endswith(".parquet")]
            n, b = out.get(table, (0, 0))
            out[table] = (n + len(files), b + sum(os.path.getsize(f) for f in files))
    return out


# -- curation ----------------------------------------------------------------

# The curation rows of bench.py that fit this benchmark's time budget:
# graph_ops loads operators.dedup (minhash LSH, clusters) and linkgraph,
# text_metrics textquality / lm / dsir / pii, ann_bruteforce similarity,
# corpus_curation operators.curation and bpe, events_windows
# streaming.events (see README.md).
CURATION_ROWS = ["graph_ops", "text_metrics", "ann_bruteforce",
                 "corpus_curation", "events_windows"]


def time_curation(spark, data_dir: str, tracer=None):
    """Each row built and written to the noop sink. Returns
    (seconds, {row: seconds}, {row: checksum})."""
    import __spark_entry__ as entry

    qs = entry.queries()
    span = tracer.span if tracer else (lambda _name: nullcontext())
    per, sums = {}, {}
    t0 = time.monotonic()
    for name in CURATION_ROWS:
        t = time.monotonic()
        with span(f"query.{name}"):
            sums[name] = write_noop_checked(qs[name](spark, data_dir), name)
        per[name] = time.monotonic() - t
    return time.monotonic() - t0, per, sums


def curation_kinds(spark, data_dir: str) -> dict:
    """Seconds per kind of each folded row (bench.py's FOLDED_KINDS): the
    row filtered to one kind, written to noop; ``build`` is the eager
    work done while constructing the frame."""
    import __spark_entry__ as entry
    from bench import FOLDED_KINDS

    qs = entry.queries()
    out = {}
    for name in CURATION_ROWS:
        if name not in FOLDED_KINDS:
            continue
        t = time.monotonic()
        df = qs[name](spark, data_dir)
        out[f"kind.{name}.build.s"] = time.monotonic() - t
        for k in FOLDED_KINDS[name]:
            t = time.monotonic()
            df.filter(F.col("kind") == k).write.format("noop").mode("overwrite").save()
            out[f"kind.{name}.{k}.s"] = time.monotonic() - t
    return out

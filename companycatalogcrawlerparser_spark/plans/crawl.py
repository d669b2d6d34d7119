"""The flagship pipeline — email-harvest crawl as a round-based DataFrame
loop (SURVEY.md §3.2 "Spark shape"; reference ``Program.fs:492-567`` +
``Crawler.fs:316-392``).

Round 0 (seeds): F9 filter → A2 site_url dedup → cap → politeness schedule
→ fetch join → extract → mailto/email bag → per-company branch (mailto>1
short-circuit / contact anchors / contact hrefs) → flags + next frontier.
Round 1 (contact pages): extractor-scope dedup → url-seen filter →
schedule → fetch → email regex only (the reference's
``asyncEmailExtractor`` never expands further).
Finalize: F10 post-filter → K5 global email dedup + junction.

One configuration: robots.txt gating and Crawl-delay politeness always
apply (a no-op on a corpus without robots.txt rows), and like the
reference there is no sitemap discovery and no store compaction. Round 1
commits an empty next frontier, so a crawl holds at most two rounds of
rows.

Every round commits one atomic snapshot (trace, bag, url_seen delta, next
frontier, flags, counters) — a killed job resumes at the last committed
round without refetching (C7).

Scale shape per round: the fetch join streams the corpus past the
broadcast frontier; the JVM-native extractor turns each fetched page into
one row of token arrays, checkpointed once. Everything the reference
scopes to one page (its ``Seq.distinct`` passes, and in round 0 the whole
per-company branch, since round 0 fetches one page per company) is a
per-row array projection or explode of that row — no shuffle. Round 0
builds its page lists (mailto, emails, contact anchors, contact hrefs)
inside that one checkpoint, in place of the token arrays, so its commit
writes only project and explode them. The windows are the seed
selection's site_url dedup, the host politeness stamps (one row_number
per host) and round 1's (company, url) dedup; the stamped frontier goes
straight into the fetch join's broadcast, unrepartitioned. No collect()
except tiny control counts; the manifest counters (and each round's max
``host_rank``) are observed on the commit writes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import admission as admission_mod
from ..functions.canon import base_url as base_url_expr
from ..functions.canon import canonicalize_url
from ..functions.emails import finalize_emails
from ..functions.predicates import (
    is_contacts_page,
    is_not_image_script_css_ext,
    seed_filter,
)
from ..operators import extract as X
from ..operators import frontier as FR
from ..operators import robots as RB
from ..operators.urlseen import UrlSeen, is_bloom_table, seen_key
from ..session import local_frame
from ..sources.pages import fetch_join, redirect_map
from ..storage.snapshots import SnapshotStore

FLAGS_SCHEMA = (
    "company_id long, bad_url boolean, email_processed boolean, email_finded boolean"
)
FRONTIER_SCHEMA = "company_id long, url string, priority int, seq int, base_url string"


@dataclass
class CrawlConfig:
    max_depth: int = 2          # seed round + contact round (reference depth)
    take_limit: int = 100000    # Program.fs:535
    delay_ms: int = 1000        # smallest reference Thread.Sleep
    num_partitions: int = 32    # read only by the benchmark's frontier
    #   replay (salted); the crawl does not repartition its frontier
    n_buckets: int = 64         # url_seen bloom filter buckets
    url_seen_filter: str = "bloom"  # the only filter kind
    robots_agent: str = "ccc-spark"  # the user agent robots.txt groups
    #   are matched against (gating is always on; a no-op on corpora
    #   without robots.txt rows)
    native_extract: bool = True  # JVM regex extraction (no Arrow/Python
    #   transfer of html); False = Arrow UDTF sharing the refsem regexes.
    #   Both are oracle-verified; native measured ~2x crawl throughput on
    #   the 32-core host (not re-measured at 4 cores)


def _round_counters() -> dict:
    """The manifest counters of a round, per committed table: observed on
    the commit writes (``DataFrame.observe``), so they cost no job.
    ``max_host_rank`` is the round's longest per-host politeness queue."""
    return {
        "trace": [
            F.count(F.when(F.col("action") == "fetched", 1)).alias("pages_fetched"),
            F.count(F.when(F.col("action") == "error", 1)).alias("fetch_errors"),
            F.max("host_rank").alias("max_host_rank"),
        ],
        "frontier_next": [F.count(F.lit(1)).alias("urls_enqueued")],
        "bag": [F.count(F.lit(1)).alias("emails_bagged")],
    }


def select_companies(seeds: DataFrame, take_limit: int) -> DataFrame:
    """F9 ∘ A2 ∘ O3 — crawl-set selection (``Program.fs:525-535``).
    A2 is the reference's own ROW_NUMBER formulation (UsefulSQLQuery.sql:33-36)."""
    f = seeds.filter(
        seed_filter(
            F.col("site_url"),
            F.col("bad_url"),
            F.col("email_processed"),
            F.col("email_finded"),
        )
    )
    w = Window.partitionBy("site_url").orderBy("company_id")
    dedup = (
        f.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )
    # TakeOrderedAndProject — top-K without a global sort
    return dedup.orderBy("company_id").limit(take_limit)


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    out_dir: str,
    config: CrawlConfig | None = None,
) -> dict:
    """Runs (or resumes) the crawl; returns the final tables as DataFrames:
    emails, company_email, flags, trace, url_seen."""
    cfg = config or CrawlConfig()
    store = SnapshotStore(spark, out_dir)
    useen = UrlSeen(spark, n_buckets=cfg.n_buckets, filter_kind=cfg.url_seen_filter)

    last = store.last_round()
    start_round = 0 if last is None else last + 1

    # the corpus-tuned split size and the caches below are released in
    # the finally, also when a round raises
    restore_split = _tune_input_splits(spark, pages)
    cached: list = []
    try:
        # robots rules parsed ONCE per run from the corpus's own robots.txt
        # rows ("the corpus is the web"). A JVM-only probe of the url
        # column comes first: a corpus without robots.txt rows never
        # starts the parse's Python workers, and gating short-circuits.
        # Denied URLs are dropped BEFORE scheduling/fetching: no trace
        # row, no url_seen entry (they were never attempted).
        robots_rules_df = None
        robots_politeness = None
        if start_round < cfg.max_depth:
            if not pages.filter(RB.is_robots_url(F.col("url"))).isEmpty():
                rr = RB.robots_rules(pages, agent=cfg.robots_agent).cache()
                cached.append(rr)
                if not rr.isEmpty():
                    robots_rules_df = rr
                    delays = RB.crawl_delays(rr)
                    robots_politeness = delays if not delays.isEmpty() else None
            # redirect closure depends only on the corpus — compute once,
            # cache (small: the 3xx subset), reuse across rounds
            rmap = redirect_map(pages).cache()
            cached.append(rmap)

        for round_id in range(start_round, cfg.max_depth):
            if round_id == 0:
                companies = select_companies(seeds, cfg.take_limit)
                frontier = companies.select(
                    "company_id",
                    F.col("site_url").alias("url"),
                    F.lit(FR.PRIO_SEED).alias("priority"),
                    F.lit(0).alias("seq"),
                    base_url_expr(F.col("site_url")).alias("base_url"),
                )
                # no url-seen filter: round 0 starts a fresh store (a rerun
                # that finds round 0 committed resumes at round 1), and
                # select_companies already dedups the seed urls
            else:
                frontier = store.read(round_id - 1, "frontier_next")
                seen = store.read(round_id - 1, "url_seen")
                # reuse the blooms committed with the previous snapshot;
                # rebuild them from url_seen if the store has none or
                # recorded an older layout
                blooms = store.manifest(round_id - 1)["tables"].get("blooms", {})
                if is_bloom_table(blooms.get("schema")):
                    useen.set_blooms(store.read(round_id - 1, "blooms"))
                else:
                    useen.build_blooms(seen)
                cand = (
                    frontier.withColumn("canonical_url", canonicalize_url(F.col("url")))
                    .withColumn("scope", F.col("company_id").cast("string"))
                    .withColumn("seen_key", seen_key(F.col("scope"), F.col("canonical_url")))
                )
                frontier = useen.filter_unseen(cand, seen).drop(
                    "seen_key", "scope", "canonical_url"
                )
                # within-round first-occurrence dedup (the sequential
                # seen.Add). Rows of one (company_id, url) share their
                # scoped key, so the filter keeps or drops them together
                # and may run first: the filter's branches then meet
                # below the dedup's one shuffle instead of each
                # shuffling.
                w = Window.partitionBy("company_id", "url").orderBy("priority", "seq")
                frontier = (
                    frontier.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .drop("__rn")
                )
                # extractor gate: non-empty ∧ F2 (Crawler.fs:241)
                frontier = frontier.filter(
                    (F.col("url") != "") & is_not_image_script_css_ext(F.col("url"))
                )

            # robots gate (north_rule): drop disallowed URLs pre-schedule
            if robots_rules_df is not None:
                frontier = RB.gate_frontier(frontier, robots_rules_df)

            # politeness stamps over the full host (W2/C2/C3); per-host
            # Crawl-delay rows override the default budget. No repartition
            # follows: the fetch join broadcasts the stamped frontier.
            sched = FR.schedule(
                frontier,
                politeness=robots_politeness,
                default_delay_ms=cfg.delay_ms,
            )

            # the fetch join stays LAZY: html streams from the corpus scan
            # straight through ONE extract pass that emits fetch metadata +
            # per-page token arrays; only that metadata-sized frame is
            # checkpointed (html never hits the block manager — materializing
            # 30 KB × frontier of html was the dominant core-count-independent
            # cost at bench scale)
            fetched = fetch_join(sched, pages, rmap=rmap)
            extract = (
                X.extract_tokens_native if cfg.native_extract else X.extract_tokens_meta
            )
            # EAGER, in both rounds (round 0's inside _seed_round, with its
            # lists): the broadcast-join plan has no upstream shuffle
            # stages, so a lazy checkpoint would defer the scan+extract to
            # the first consumer — and CONCURRENT consumers (the commit's
            # parallel table writes) would then race to compute the same
            # unmaterialized RDD, duplicating the extract.
            if round_id == 0:
                tokens, result = _seed_round(extract(fetched))
            else:
                tokens = extract(fetched).localCheckpoint(eager=True)
                # IsNullOrWhiteSpace gate on the fetched body (Crawler.fs:326)
                ok_tokens = tokens.filter(F.col("fetch_ok") & F.col("has_html"))
                bag = X.regex_emails(ok_tokens).select("company_id", "email")
                result = {
                    "bag": bag,
                    "flags": local_frame(spark, [], FLAGS_SCHEMA),
                    "frontier_next": local_frame(spark, [], FRONTIER_SCHEMA),
                }

            trace = tokens.select(
                F.lit(round_id).alias("round"),
                "company_id",
                "priority",
                "seq",
                F.col("page_url").alias("url"),
                F.when(F.col("fetch_ok"), F.lit("fetched"))
                .otherwise(F.lit("error"))
                .alias("action"),
                "host",
                "host_rank",
                "not_before",
                "fetch_error",
            )

            # url_seen delta: everything this round actually attempted
            if round_id == 0:
                delta = tokens.select(
                    seen_key(F.lit("G"), canonicalize_url(F.col("page_url"))).alias("seen_key"),
                    F.lit("G").alias("scope"),
                    canonicalize_url(F.col("page_url")).alias("canonical_url"),
                    F.lit(round_id).alias("round"),
                )
                url_seen = delta
            else:
                delta = tokens.select(
                    seen_key(F.col("company_id").cast("string"), canonicalize_url(F.col("page_url"))).alias("seen_key"),
                    F.col("company_id").cast("string").alias("scope"),
                    canonicalize_url(F.col("page_url")).alias("canonical_url"),
                    F.lit(round_id).alias("round"),
                )
                url_seen = seen.unionByName(delta)

            tables = {
                "trace": trace,
                "bag": result["bag"],
                "flags": result["flags"],
                "frontier_next": result["frontier_next"],
                "url_seen": url_seen,
            }
            if round_id + 1 < cfg.max_depth:
                # persist next round's blooms with the snapshot (one JVM
                # aggregate — seen keys never reach the driver)
                tables["blooms"] = useen.bloom_table(url_seen)
            store.commit(round_id, tables, observed=_round_counters())

        return finalize(spark, store)
    finally:
        for df in cached:
            df.unpersist()
        restore_split()


def _tune_input_splits(spark, pages: DataFrame):
    """Size ``spark.sql.files.maxPartitionBytes`` to the ACTUAL corpus:
    html compresses ~30:1 in parquet, so Spark's 128 MB default split can
    carry ~4 GB of decompressed payload and the scan+extract stage ends up
    with fewer tasks than cores (measured: core-count-independent wall).
    Target ≈ total_bytes / (3 × cores), clamped to [8 MB, 128 MB].
    Returns a restore callable for the previous value."""
    try:
        files = pages.inputFiles()
        total = 0
        for f in files:
            p = f[len("file:"):] if f.startswith("file:") else f
            if os.path.exists(p):
                total += os.path.getsize(p)
    except Exception:
        return lambda: None
    if total <= 0:
        return lambda: None
    cores = spark.sparkContext.defaultParallelism
    target = max(8 << 20, min(128 << 20, total // max(1, cores * 3)))
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))

    def restore():
        if prev is not None:
            spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        else:
            # not explicitly set before: unset so the corpus-tuned split
            # size doesn't leak into unrelated queries on this session
            spark.conf.unset("spark.sql.files.maxPartitionBytes")

    return restore


def _seed_round(extracted: DataFrame) -> tuple:
    """Per-company branch logic of round 0 (``Crawler.fs:326-379``):
    returns the checkpointed token rows and the round's ``bag``, ``flags``
    and ``frontier_next``.

    Round 0 fetches one page per company: its token rows hold one row per
    company (seeds are keyed on ``company_id``), so every per-company
    count is the size of one row's list. The lists are built once, in the
    round's one checkpoint, which holds them in place of the token arrays
    (:func:`_seed_lists`); ``flags``, ``bag`` and ``frontier_next`` are
    projections and explodes of it."""
    rows = _seed_lists(extracted).localCheckpoint(eager=True)
    n_mailto = F.size("mailto")
    has_anchor = F.size("contact_anchors") > 0

    flags = rows.select(
        "company_id",
        F.col("bad").alias("bad_url"),
        F.lit(True).alias("email_processed"),
        F.when(F.col("bad"), F.lit(False))
        .when(n_mailto > 1, F.lit(True))
        .otherwise(
            has_anchor
            | (F.size("contact_hrefs") > 0)
            | (n_mailto > 0)
            | (F.size("page_emails") > 0)
        )
        .alias("email_finded"),
    )

    bag = rows.select(
        "company_id",
        F.explode(F.concat("mailto.v", "page_emails.v")).alias("email"),
    )

    def with_priority(name: str, priority: int) -> Column:
        return F.transform(
            name,
            lambda e: F.struct(
                e["v"].alias("url"),
                F.lit(priority).alias("priority"),
                e["seq"].alias("seq"),
            ),
        )

    # frontier expansion blocked for mailto>1 companies (Crawler.fs:343-344);
    # contact hrefs only where the page has no contact anchor (:357-358)
    links = (
        F.when(n_mailto > 1, F.array().cast(
            "array<struct<url:string,priority:int,seq:int>>"))
        .when(has_anchor, with_priority("contact_anchors", FR.PRIO_CONTACT_ANCHOR))
        .otherwise(with_priority("contact_hrefs", FR.PRIO_CONTACT_HREF))
    )
    frontier_next = rows.select("company_id", "base_url", F.inline(links)).select(
        "company_id", "url", "priority", "seq", "base_url"
    )
    return rows, {"bag": bag, "flags": flags, "frontier_next": frontier_next}


def _seed_lists(extracted: DataFrame) -> DataFrame:
    """Round 0's token rows with their lists in place of the token arrays:
    ``mailto``, ``page_emails``, ``contact_anchors``, ``contact_hrefs``
    (the admitted URLs that name a contact page) and ``bad``."""
    contact_hrefs = admission_mod.admitted_list() + [
        lambda lst: F.filter(lst, lambda e: is_contacts_page(e["v"]))
    ]
    lists = X.with_lists(
        extracted,
        {
            "mailto": X.mailto_list(),
            "page_emails": X.page_email_list(),
            "contact_anchors": X.contact_anchor_list(),
            "contact_hrefs": contact_hrefs,
        },
    )
    # error / empty-html pages → (true, true, false); their lists are
    # empty (the IsNullOrWhiteSpace gate lives in has_html)
    return lists.withColumn("bad", ~F.col("fetch_ok") | ~F.col("has_html"))


def finalize(spark: SparkSession, store: SnapshotStore) -> dict:
    """F10 post-filter + K5 global dedup over all committed rounds."""
    rounds = store.committed_rounds()
    bag = store.read_union("bag")
    trace = store.read_union("trace")
    flags = store.read_union("flags")
    url_seen = store.read(rounds[-1], "url_seen")

    filtered = finalize_emails(bag)  # F10
    # K5: global email dedup — deterministic surrogate ids by email text,
    # assigned distributed (a range sort and Spark's distributed sequence
    # id); a global Window.orderBy here would single-task ALL distinct
    # emails
    from ..operators.merge import assign_dense_ids

    emails_dim = assign_dense_ids(
        filtered.select("email").distinct(), "email", "email_id"
    ).withColumn("bad_ignore_email", F.lit(False))
    junction = (
        filtered.join(emails_dim, "email")
        .select("company_id", "email_id")
        .distinct()
    )
    return {
        "emails": emails_dim,
        "company_email": junction,
        "email_pairs": filtered,
        "flags": flags,
        "trace": trace,
        "url_seen": url_seen,
    }

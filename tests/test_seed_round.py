"""The per-row seed round and the preconditions that make it exact.

Round 0's per-company branch is a projection of the page's token row, and
every page-scoped ``Seq.distinct`` is an array expression on that row.
That equals the reference only while each round's tokens hold one row per
(company, page) and round 0's hold one row per company; these tests pin
those preconditions, the plans' shape (no shuffle after the tokens
checkpoint, the lists built once, in that checkpoint, and the dedup's
value array built once per row), and the crawl's outputs across
partitionings.
"""

import pytest
from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.functions import admission as NA
from companycatalogcrawlerparser_spark.operators import extract as X
from companycatalogcrawlerparser_spark.plans import crawl as C
from companycatalogcrawlerparser_spark.plans.crawl import CrawlConfig, run_crawl
from companycatalogcrawlerparser_spark.sources import webgen
from companycatalogcrawlerparser_spark.sources.pages import fetch_join, redirect_map
from companycatalogcrawlerparser_spark.storage.snapshots import SnapshotStore
from conftest import partitioning

N_COMPANIES = 20
SHUFFLE_PARTITIONS = (1, 3, 8)
_HASH_MOD = 2_147_483_647


def _checksum(df) -> tuple:
    """(rows, sum of row hashes): order-insensitive."""
    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    r = df.agg(
        F.count(F.lit(1)).alias("rows"), F.sum(F.pmod(h, F.lit(_HASH_MOD))).alias("h")
    ).first()
    return int(r["rows"]), int(r["h"] or 0)


def _lambda_bodies(plan: str) -> list:
    """The text of every ``lambdafunction(...)`` in a plan string."""
    out = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        depth, end = 0, start
        for end in range(start + len("lambdafunction"), len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        out.append(plan[start:end + 1])
        start = plan.find("lambdafunction(", start + 1)
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    pages_rows, seeds_rows = webgen.build_corpus_local(N_COMPANIES)
    return (
        spark.createDataFrame(pages_rows, schema=webgen.PAGES_SCHEMA),
        spark.createDataFrame(seeds_rows, schema=webgen.SEEDS_SCHEMA),
    )


@pytest.fixture(scope="module")
def crawls(spark, corpus, tmp_path_factory):
    """{shuffle partitions: (store dir, output checksums, {email:
    email_id})} over one corpus: each crawl, its finalize included, runs
    with ``spark.sql.shuffle.partitions`` set to that value."""
    pages, seeds = corpus
    out = {}
    for p in SHUFFLE_PARTITIONS:
        d = str(tmp_path_factory.mktemp(f"seed_round_p{p}"))
        with partitioning(spark, p):
            res = run_crawl(spark, pages, seeds, d, CrawlConfig(n_buckets=16))
            tables = {k: res[k] for k in
                      ("emails", "company_email", "flags", "trace", "url_seen")}
            tables["bag"] = SnapshotStore(spark, d).read_union("bag")
            sums = {k: _checksum(v) for k, v in tables.items()}
            ids = {r["email"]: r["email_id"] for r in res["emails"].collect()}
        out[p] = (d, sums, ids)
    return out


class TestPreconditions:
    def test_seeds_keyed_on_company_id(self, corpus):
        seeds = corpus[1]
        assert seeds.count() == seeds.select("company_id").distinct().count()

    def test_tokens_one_row_per_page_and_round0_per_company(self, spark, crawls):
        """The trace is a 1:1 projection of each round's tokens."""
        store = SnapshotStore(spark, crawls[8][0])
        for r in store.committed_rounds():
            trace = store.read(r, "trace")
            n = trace.count()
            assert n > 0
            assert trace.select("company_id", "url").distinct().count() == n, r
            if r == 0:
                assert trace.select("company_id").distinct().count() == n

    def test_fetch_join_one_row_per_frontier_row(self, spark):
        """With one pages row per url, every frontier row (repeated urls,
        redirects and misses included) comes back exactly once; the
        frontier is broadcast and no sort carries the html payload."""
        pages = spark.createDataFrame(
            [
                ("http://a.ru/", None, b"<p>a</p>", None, None, 200, None),
                ("http://b.ru/", None, b"<p>b</p>", None, None, 200, None),
                ("http://r.ru/", None, None, None, None, 301, "http://b.ru/"),
                ("http://e.ru/", None, b"gone", None, None, 404, None),
            ],
            schema=webgen.PAGES_SCHEMA,
        )
        frontier = spark.createDataFrame(
            [(1, "http://a.ru/"), (2, "http://a.ru/"), (3, "http://r.ru/"),
             (4, "http://b.ru/"), (5, "http://e.ru/"), (6, "http://x.ru/")],
            "company_id long, url string",
        )
        got = fetch_join(frontier, pages, redirect_map(pages))
        assert sorted(tuple(r) for r in got.select("company_id", "page_url").collect()) \
            == sorted(tuple(r) for r in frontier.collect())
        plan = got._sc._jvm.PythonSQLUtils.explainString(
            got._jdf.queryExecution(), "formatted"
        )
        assert "BroadcastHashJoin" in plan
        # a sort on the key-only anti-join side is harmless; a sort whose
        # input carries html is the disk-bound pathology
        for block in plan.split("\n\n"):
            head = block.splitlines()[0] if block.strip() else ""
            if head.endswith("Sort") or "SortMergeJoin" in head:
                assert "html" not in block, block

    def test_round1_candidates_unseen_by_round0(self, spark, crawls):
        """Round-1 candidates are scoped per company; round 0 marks its
        seeds in the global scope, so no candidate can match a committed
        round-0 ``url_seen`` key."""
        store = SnapshotStore(spark, crawls[8][0])
        cand = {
            r[0] for r in store.read(0, "frontier_next")
            .select(F.col("company_id").cast("string")).distinct().collect()
        }
        seen = {r[0] for r in store.read(0, "url_seen").select("scope").distinct().collect()}
        assert cand and seen
        assert cand.isdisjoint(seen)


class TestPlans:
    def test_seed_round_has_no_exchange(self, spark, corpus, tmp_path, monkeypatch):
        committed = {}
        orig = SnapshotStore.commit

        def capture(self, round_id, tables, **kw):
            committed[round_id] = dict(tables)
            return orig(self, round_id, tables, **kw)

        monkeypatch.setattr(SnapshotStore, "commit", capture)
        pages, seeds = corpus
        run_crawl(spark, pages, seeds, str(tmp_path / "store"),
                  CrawlConfig(num_partitions=8, n_buckets=16, max_depth=1))
        for name in ("bag", "flags", "frontier_next"):
            plan = committed[0][name]._jdf.queryExecution().executedPlan().toString()
            assert "ExistingRDD" in plan, name  # reads the tokens checkpoint
            assert "Exchange" not in plan, (name, plan)
            # the lists are built once, in the checkpoint: no dedup after it
            assert "array_position(" not in plan, (name, plan)

    def test_dedup_values_built_once_per_row(self, spark):
        """Every dedup reads its bound value array, and every list reads
        the row's bound base URL and host token; the optimizer does not
        rebuild them inside the per-element lambdas."""
        tokens = spark.createDataFrame(
            [(1, "http://a.ru/", "http://a.ru", True, True,
              ["mailto:x@a.ru", "/contacts"], ["contacts"], ["/contacts"], ["x@a.ru"])],
            "company_id long, page_url string, base_url string, fetch_ok boolean, "
            "has_html boolean, hrefs array<string>, anchor_names array<string>, "
            "anchor_urls array<string>, emails array<string>",
        )
        frames = {
            "mailto": X.mailto_emails(tokens),
            "regex": X.regex_emails(tokens),
            "anchors": X.contact_anchor_links(tokens),
            "admission": X.inline_list(NA.admit_frontier(tokens), "admitted", "url"),
            "seed_lists": C._seed_lists(tokens),
        }
        for name, df in frames.items():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "array_position(" in plan, name
            assert "array_position(transform" not in plan, (name, plan)
            for body in _lambda_bodies(plan):  # host_token's url regex
                assert "regexp_extract(" not in body, (name, body)
            assert df.count() == 1, name
        # the seed lists keep no token array
        assert not set(X.TOKEN_ARRAYS) & set(frames["seed_lists"].columns)


class TestPartitioning:
    def test_outputs_and_email_ids_equal_across_shuffle_partitions(self, crawls):
        first_sums, first_ids = crawls[SHUFFLE_PARTITIONS[0]][1:]
        assert first_sums["bag"][0] > 0 and first_ids
        assert sorted(first_ids.values()) == list(range(1, len(first_ids) + 1))
        assert [first_ids[e] for e in sorted(first_ids)] == sorted(first_ids.values())
        for p in SHUFFLE_PARTITIONS[1:]:
            sums, ids = crawls[p][1:]
            assert ids == first_ids, p
            assert sums == first_sums, p

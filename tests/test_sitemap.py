"""Sitemap ingestion (engine-new): refsem oracle semantics + Spark
two-round plan parity + frontier-feed dedup/anti-join."""

from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark import harness as H
from companycatalogcrawlerparser_spark.operators import sitemap as SM
from companycatalogcrawlerparser_spark.refsem import sitemap as RSM


class TestRefsemSitemap:
    def test_urlset_order_entities_and_junk(self):
        xml = H.SITEMAP_FIXTURES["http://firm-a.ru/sitemap.xml"]
        rows = RSM.parse_sitemap(xml)
        assert [r[0] for r in rows] == [
            "http://firm-a.ru/",
            "http://firm-a.ru/contact?a=1&b=2",  # &amp; decoded
            "http://firm-a.ru/upper",            # case-insensitive tags
        ]
        assert rows[0][1] == "2025-01-02"
        assert rows[1][1] is None

    def test_index_detection_and_nested_locs(self):
        xml = H.SITEMAP_FIXTURES["http://firm-b.ru/sitemap.xml"]
        assert RSM.is_sitemap_index(xml)
        assert not RSM.is_sitemap_index(
            H.SITEMAP_FIXTURES["http://firm-a.ru/sitemap.xml"]
        )
        assert RSM.parse_sitemap_index(xml) == [
            "http://firm-b.ru/sm/products.xml",
            "http://firm-b.ru/sm/missing.xml",
            "http://firm-b.ru/sm/news.xml",
        ]

    def test_crawl_walk_skips_missing_fetches(self):
        rows = RSM.crawl_sitemaps(H.SITEMAP_FIXTURES, H.SITEMAP_ROOTS)
        b = [(r[1], r[2]) for r in rows if r[0] == "http://firm-b.ru/sitemap.xml"]
        assert b == [
            (0, "http://firm-b.ru/p/1"),
            (1, "http://firm-b.ru/p/2"),
            (2, 'http://firm-b.ru/news/"q"'),
        ]
        assert not any(r[0].startswith("http://firm-c") for r in rows)

    def test_malformed_xml_tolerated(self):
        assert RSM.parse_sitemap("<urlset><url><loc>not closed") == []
        assert RSM.parse_sitemap("") == []
        assert RSM.parse_sitemap_index("<garbage>") == []


class TestSparkSitemap:
    def _fixture_dfs(self, spark):
        pages = spark.createDataFrame(
            [(u, bytearray(x)) for u, x in H.sitemap_fixture_bytes()],
            "url string, html binary",
        )
        roots = spark.createDataFrame([(u,) for u in H.SITEMAP_ROOTS], ["url"])
        return pages, roots

    def test_two_round_plan_matches_oracle(self, spark):
        pages, roots = self._fixture_dfs(spark)
        got = sorted(
            (r["root_url"], r["ord"], r["url"], r["lastmod"])
            for r in SM.sitemap_urls(pages, roots).collect()
        )
        want = sorted(RSM.crawl_sitemaps(H.SITEMAP_FIXTURES, H.SITEMAP_ROOTS))
        assert got == want

    def test_seeds_feed_dedup(self, spark):
        """One row per sitemap url, carrying its first (root, ord)
        occurrence's lastmod."""
        pages, roots = self._fixture_dfs(spark)
        got = sorted(
            (r["url"], r["lastmod"])
            for r in SM.seeds_from_sitemaps(pages, roots).collect()
        )
        first = {}
        for root, ord_, url, lastmod in sorted(
                RSM.crawl_sitemaps(H.SITEMAP_FIXTURES, H.SITEMAP_ROOTS)):
            first.setdefault(url, lastmod)
        assert got == sorted(first.items())
        assert "http://firm-b.ru/p/1" in first
        assert "http://firm-a.ru/" in first

    def test_recrawl_candidates(self, spark):
        """new = never fetched; stale = lastmod after last fetch; absent
        lastmod never marks stale (advisory field)."""
        import datetime as dt

        entries = spark.createDataFrame(
            [
                ("http://a.ru/sm", 0, "http://a.ru/new", None),
                ("http://a.ru/sm", 1, "http://a.ru/stale", "2025-06-10"),
                ("http://a.ru/sm", 2, "http://a.ru/fresh", "2025-06-01"),
                ("http://a.ru/sm", 3, "http://a.ru/nolastmod", None),
            ],
            "root_url string, ord long, url string, lastmod string",
        )
        log = spark.createDataFrame(
            [
                ("http://a.ru/stale", dt.datetime(2025, 6, 5)),
                ("http://a.ru/fresh", dt.datetime(2025, 6, 5)),
                ("http://a.ru/nolastmod", dt.datetime(2025, 6, 5)),
            ],
            "url string, last_fetch_ts timestamp",
        )
        got = {
            r["url"]: r["reason"]
            for r in SM.recrawl_candidates(entries, log).collect()
        }
        assert got == {
            "http://a.ru/new": "new",
            "http://a.ru/stale": "stale",
        }

    def test_recrawl_duplicate_urls_max_lastmod_wins(self, spark):
        """A URL in several sitemaps keeps the MAX lastmod (null ignored):
        any sitemap claiming a newer change triggers stale —
        deterministically, unlike a dropDuplicates keep-any."""
        import datetime as dt

        entries = spark.createDataFrame(
            [
                # dup across roots: older + NEWER + null lastmod → stale
                ("http://a.ru/sm", 0, "http://a.ru/p", "2025-06-01"),
                ("http://b.ru/sm", 0, "http://a.ru/p", "2025-06-10"),
                ("http://c.ru/sm", 0, "http://a.ru/p", None),
                # dup where every copy is older → not stale
                ("http://a.ru/sm", 1, "http://a.ru/q", "2025-06-01"),
                ("http://b.ru/sm", 1, "http://a.ru/q", "2025-06-02"),
                # partial W3C dates: month/year complete to period start
                ("http://a.ru/sm", 2, "http://a.ru/m", "2025-07"),
                ("http://a.ru/sm", 3, "http://a.ru/y", "2026"),
            ],
            "root_url string, ord long, url string, lastmod string",
        )
        fetched = dt.datetime(2025, 6, 5)
        log = spark.createDataFrame(
            [(u, fetched) for u in (
                "http://a.ru/p", "http://a.ru/q",
                "http://a.ru/m", "http://a.ru/y",
            )],
            "url string, last_fetch_ts timestamp",
        )
        got = {
            r["url"]: (r["reason"], r["lastmod_ts"])
            for r in SM.recrawl_candidates(entries, log).collect()
        }
        assert got == {
            "http://a.ru/p": ("stale", dt.datetime(2025, 6, 10)),
            "http://a.ru/m": ("stale", dt.datetime(2025, 7, 1)),
            "http://a.ru/y": ("stale", dt.datetime(2026, 1, 1)),
        }

    def test_lastmod_spark_matches_python_twin(self, spark):
        """lastmod_ts (Spark) and refsem parse_lastmod (Python) agree on
        every W3C form and on junk — both gate on the same strict
        profile, so parser-leniency differences can't leak through."""
        vals = [
            "2025", "2025-06", "2025-06-01",
            "2025-06-01T10:00Z", "2025-06-01T10:00:05Z",
            "2025-06-01T10:00:05.250000Z",
            "2025-06-01T10:00:05+02:00", "2025-06-01T10:00:05-05:30",
            "  2025-06-01  ",          # trimmed
            "", "yesterday", "20250601", "2025-6-1", "2025-13",
            "2025-06-31", "2025-06-01T10", "2025-06-01 10:00:05Z",
        ]
        df = spark.createDataFrame([(v,) for v in vals], "lastmod string")
        got = {
            r["lastmod"]: r["ts"]
            for r in df.select(
                "lastmod", SM.lastmod_ts(F.col("lastmod")).alias("ts")
            ).collect()
        }
        for v in vals:
            assert got[v] == RSM.parse_lastmod(v), repr(v)

    def test_gzip_sitemaps_parse_and_plain_branch_stays_native(self, spark):
        """.xml.gz roots parse (magic-byte Arrow
        branch), plain docs still flow the native branch — the Python
        stage sits only under the gzip filter."""
        pages, roots = self._fixture_dfs(spark)
        got = {
            (r["root_url"], r["ord"]): (r["url"], r["lastmod"])
            for r in SM.sitemap_urls(pages, roots).collect()
            if r["root_url"] == "http://firm-g.ru/sitemap.xml.gz"
        }
        assert got == {
            ("http://firm-g.ru/sitemap.xml.gz", 0): (
                "http://firm-g.ru/", "2025-05-06"
            ),
            ("http://firm-g.ru/sitemap.xml.gz", 1): (
                "http://firm-g.ru/contact", None
            ),
        }
        plan = (
            SM.sitemap_urls(pages, roots)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # Arrow stages exist (gz branches) but each is guarded by the
        # gzip magic-byte filter — plain rows never cross into Python
        assert "ArrowEvalPython" in plan
        assert plan.count("1F8B") >= 2  # the magic-byte literal in filters

    def test_gzip_corrupt_member_yields_nothing(self, spark):
        pages = spark.createDataFrame(
            [
                ("http://x.ru/sitemap.xml.gz",
                 bytearray(b"\x1f\x8b\x08corrupt-not-really-gzip")),
            ],
            "url string, html binary",
        )
        roots = spark.createDataFrame(
            [("http://x.ru/sitemap.xml.gz",)], ["url"]
        )
        assert SM.sitemap_urls(pages, roots).count() == 0
        assert RSM.crawl_sitemaps(
            {"http://x.ru/sitemap.xml.gz": b"\x1f\x8b\x08corrupt-not-really-gzip"},
            ["http://x.ru/sitemap.xml.gz"],
        ) == []

"""robots.txt gating (north_rule) — refsem oracle semantics, engine
decision parity, end-to-end crawl gating + Crawl-delay politeness."""

import pytest
from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.operators import robots as RB
from companycatalogcrawlerparser_spark.refsem import robots as RO
from companycatalogcrawlerparser_spark.sources import webgen


ROBOTS_A = """
# comments ignored
User-agent: *
Disallow: /private/
Disallow: /*.pdf$
Allow: /private/ok/
Crawl-delay: 2

User-agent: evilbot
Disallow: /
"""

ROBOTS_B = """
User-agent: ccc-spark
Disallow: /contact
Allow: /contacts-open/
"""


class TestRefsemOracle:
    def test_longest_match_allow_wins(self):
        rules, delay = RO._select_rules(RO.parse_robots(ROBOTS_A), "ccc-spark")
        assert delay == 2.0
        assert RO.is_allowed(rules, "http://a.ru/public/x") is True
        assert RO.is_allowed(rules, "http://a.ru/private/x") is False
        assert RO.is_allowed(rules, "http://a.ru/private/ok/x") is True  # longer Allow
        assert RO.is_allowed(rules, "http://a.ru/doc.pdf") is False      # * and $
        assert RO.is_allowed(rules, "http://a.ru/doc.pdfx") is True      # $ anchors
        assert RO.is_allowed(rules, "http://a.ru/") is True

    def test_agent_group_selection(self):
        rules, _ = RO._select_rules(RO.parse_robots(ROBOTS_A), "evilbot")
        assert RO.is_allowed(rules, "http://a.ru/anything") is False
        rules_b, _ = RO._select_rules(RO.parse_robots(ROBOTS_B), "ccc-spark")
        assert RO.is_allowed(rules_b, "http://b.ru/contact.html") is False
        assert RO.is_allowed(rules_b, "http://b.ru/contacts-open/x") is True
        # no group matches an unknown agent and no * group → all allowed
        rules_n, _ = RO._select_rules(RO.parse_robots(ROBOTS_B), "otherbot")
        assert rules_n == []

    def test_match_target_is_path_query(self):
        assert RO.path_query("http://a.ru") == "/"
        assert RO.path_query("http://a.ru/x?q=1#frag") == "/x?q=1"


@pytest.fixture(scope="module")
def rules_df(spark):
    pages = spark.createDataFrame(
        [
            ("http://firm-a.ru/robots.txt", bytearray(ROBOTS_A.encode())),
            ("http://firm-b.ru/robots.txt", bytearray(ROBOTS_B.encode())),
            ("http://firm-a.ru/not-robots", bytearray(b"<html>x</html>")),
        ],
        "url string, html binary",
    )
    return RB.robots_rules(pages, agent="ccc-spark").cache()


class TestEngineParity:
    URLS = [
        "http://firm-a.ru/public/x",
        "http://firm-a.ru/private/x",
        "http://firm-a.ru/private/ok/x",
        "http://firm-a.ru/doc.pdf",
        "http://firm-a.ru/doc.pdfx",
        "http://firm-b.ru/contact.html",
        "http://firm-b.ru/contacts-open/x",
        "http://firm-c.ru/anything",   # no robots.txt → allowed
        "http://firm-a.ru",            # bare host → '/'
    ]

    def test_gate_matches_oracle(self, spark, rules_df):
        oracle = RO.RobotsOracle(
            {"firm-a.ru": ROBOTS_A, "firm-b.ru": ROBOTS_B}, agent="ccc-spark"
        )
        frontier = spark.createDataFrame([(u,) for u in self.URLS], ["url"])
        got = {
            r["url"]: r["robots_allowed"]
            for r in RB.gate_frontier(frontier, rules_df, keep_denied=True).collect()
        }
        from companycatalogcrawlerparser_spark.refsem.strings import get_host

        for u in self.URLS:
            host = u.split("//")[1].split("/")[0]
            expected = oracle.allowed(host, u)
            assert got[u] == expected, u

    def test_crawl_delays(self, spark, rules_df):
        d = {r["host"]: r["delay_ms"] for r in RB.crawl_delays(rules_df).collect()}
        assert d == {"firm-a.ru": 2000}


class TestCrawlGating:
    def test_end_to_end_denied_contact_and_crawl_delay(self, spark, tmp_path):
        """A host whose robots.txt disallows its contact path: the crawl
        fetches the homepage but never the contact page; a Crawl-delay
        host gets its politeness budget from robots."""
        from companycatalogcrawlerparser_spark.plans.crawl import (
            CrawlConfig, run_crawl,
        )

        pages_rows, seeds_rows = webgen.build_corpus_local(12)
        home = "http://gated-firm.ru"
        for url, html in [
            (home, '<html><body><a href="/contact.html">misc</a>'
                   '<a href="/about-us/">also</a></body></html>'),
            (home + "/contact.html", "<html><body>sekret@gated-firm.ru</body></html>"),
            (home + "/about-us/", "<html><body>open@gated-firm.ru</body></html>"),
            (home + "/robots.txt", webgen.robots_txt(
                disallow=("/contact",), crawl_delay_s=5)),
        ]:
            pages_rows.append(webgen.page_row(
                {"url": url, "html": html, "lang": "ru", "status": 200, "location": None}
            ))
        seeds_rows.append({
            "company_id": 500, "site_url": home, "bad_url": False,
            "email_processed": False, "email_finded": False,
        })
        pages = spark.createDataFrame(pages_rows, schema=webgen.PAGES_SCHEMA)
        seeds = spark.createDataFrame(seeds_rows, schema=webgen.SEEDS_SCHEMA)
        res = run_crawl(
            spark, pages, seeds, str(tmp_path / "store"),
            CrawlConfig(num_partitions=8, n_buckets=16),
        )
        tr = [
            (r["round"], r["url"], r["not_before"])
            for r in res["trace"].collect() if r["company_id"] == 500
        ]
        urls = {u for _, u, _ in tr}
        assert home in urls
        assert home + "/about-us/" in urls, "allowed contact-like page fetched"
        assert home + "/contact.html" not in urls, "robots-disallowed page gated"
        emails = {r["email"] for r in res["email_pairs"].collect() if r["company_id"] == 500}
        assert "open@gated-firm.ru" in emails and "sekret@gated-firm.ru" not in emails
        # Crawl-delay 5s → round-1 not_before stamps step by 5000ms
        r1 = sorted(nb for rnd, u, nb in tr if rnd == 1)
        assert all(nb % 5000 == 0 for nb in r1)

"""Native-Column vs pure-Python-oracle parity on adversarial inputs.

Every predicate/scalar that exists in both ``functions`` (JVM exprs) and
``refsem`` (oracle) is checked value-by-value over a corpus designed to hit
each quirk branch (SURVEY.md §5.1).
"""

import pytest
from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.functions import admission as NA
from companycatalogcrawlerparser_spark.functions import canon as NC
from companycatalogcrawlerparser_spark.functions import emails as NE
from companycatalogcrawlerparser_spark.functions import predicates as NP
from companycatalogcrawlerparser_spark.refsem import extract as RE_
from companycatalogcrawlerparser_spark.refsem import predicates as RP
from companycatalogcrawlerparser_spark.refsem import strings as RS

ADVERSARIAL_URLS = [
    "http://example.com",
    "https://example.com/",
    "http://www.example.com/contact",
    "http://wwwest.example.com/about/",
    "HTTP://EXAMPLE.COM:80/Path?b=2&a=1#frag",
    "https://a.com:8443/x",
    "http://a.com/x//y",
    "//cdn.example.com/lib.js",
    "http://a.com/photo.JPG",
    "http://a.com/script.js?v=3",
    "http://facebook.com/page",
    "http://sub.vk.com.evil.org/x",
    "http://a.com/page/123/",
    "http://a.com/123.html",
    "http://a.com/12s.html",
    "http://a.com/contact.html",
    "http://a.com/kontakty/",
    "http://a.com/o-nas?topmenu=1",
    "http://a.com/deep/path/контакты",
    "http://a.com/" + "x" * 90,
    "http://a.com/tail7",
    "http://a.com/ends.htm",
    "http://a.com/x.php",
    "mailto:info@a.com",
    "/relative/contact",
    "relative.html",
    "http://a.com/a//",
    "http://a.com/shop/page-2/",
    "http://a.com/page/١٢٣/",  # Arabic-Indic digits (Nd) — .NET IsDigit
    "http://a.com/tail٧",                # Arabic-Indic digit tail
    "http://a.com/x①",                   # ① circled digit (No, NOT Nd)
]

EMAILS = [
    "info@example.com",
    "a.b-c+d@sub.example.co.uk",
    "@example.com",
    "no-at",
    "info@",
    "info@-x.com",
    "почта@example.com",
    "img@2x.png",
    "user@host.co2",
    "x@y.z.html",
    "a@b.com?subject=hello?subject=world",
    "?subject@x.com",
    "a" * 160 + "@b.com",
    "ok@fine.org",
]


def _col_vs_oracle(spark, values, col_fn, oracle_fn, colname="v"):
    df = spark.createDataFrame([(v,) for v in values], [colname])
    got = {
        r[colname]: r["out"]
        for r in df.withColumn("out", col_fn(F.col(colname))).collect()
    }
    for v in values:
        expected = oracle_fn(v)
        assert got[v] == expected, f"{oracle_fn.__name__}({v!r}): spark={got[v]!r} oracle={expected!r}"


class TestPredicateParity:
    def test_start_http(self, spark):
        _col_vs_oracle(spark, ADVERSARIAL_URLS, NP.start_http, RS.start_http)

    def test_is_not_image_script_css_ext(self, spark):
        _col_vs_oracle(
            spark, ADVERSARIAL_URLS, NP.is_not_image_script_css_ext,
            RP.is_not_image_script_css_ext,
        )

    def test_not_social_network(self, spark):
        _col_vs_oracle(
            spark, ADVERSARIAL_URLS, NP.not_social_network, RP.not_social_network
        )

    def test_is_contacts_page(self, spark):
        _col_vs_oracle(spark, ADVERSARIAL_URLS, NP.is_contacts_page, RP.is_contacts_page)

    def test_is_end_with_digits(self, spark):
        _col_vs_oracle(spark, ADVERSARIAL_URLS, NP.is_end_with_digits, RP.is_end_with_digits)

    def test_url_not_contains(self, spark):
        _col_vs_oracle(spark, ADVERSARIAL_URLS, NP.url_not_contains, RP.url_not_contains)


class TestScalarParity:
    def test_host_token(self, spark):
        urls = [u for u in ADVERSARIAL_URLS if u.startswith(("http://", "https://", "HTTP"))]
        _col_vs_oracle(spark, urls, NC.host_token, RS.get_host)

    def test_base_url(self, spark):
        urls = [u for u in ADVERSARIAL_URLS if u.startswith(("http://", "https://", "HTTP"))]
        _col_vs_oracle(spark, urls, NC.base_url, RS.get_base_url)

    def test_count_substring(self, spark):
        _col_vs_oracle(
            spark,
            ADVERSARIAL_URLS + ["a://b://c", ""],
            lambda c: NP.count_substring(c, "://").cast("int"),
            lambda s: RS.count_substring(s, "://"),
        )

    def test_convert_url(self, spark):
        base = "http://firm.com/"
        candidates = ["/x", "x", "//a.com/x//y", "http://b.com/z", "page.html"]
        df = spark.createDataFrame([(c, base) for c in candidates], ["href", "base"])
        got = {
            r["href"]: r["out"]
            for r in df.withColumn(
                "out", NC.convert_url(F.col("href"), F.col("base"))
            ).collect()
        }
        for c in candidates:
            assert got[c] == RS.convert_url(c, base), c

    def test_trim_email_with_subject(self, spark):
        _col_vs_oracle(
            spark,
            EMAILS + ["a@b.com?subjectx?subjecty", "plain"],
            NE.trim_email_with_subject,
            RS.trim_email_with_subject,
        )


class TestEmailParity:
    def test_is_valid_email(self, spark):
        _col_vs_oracle(spark, EMAILS, NE.is_valid_email, RP.is_valid_email)

    def test_post_filter(self, spark):
        nonempty = [e for e in EMAILS if e]
        _col_vs_oracle(spark, nonempty, NE.email_post_filter, RP.email_post_filter)

    def test_finalize_emails_set_equal(self, spark):
        pairs = [(i % 5, e) for i, e in enumerate(EMAILS)] + [(0, "info@example.com")]
        df = spark.createDataFrame(pairs, ["company_id", "email"])
        got = {
            (r["company_id"], r["email"])
            for r in NE.finalize_emails(df).collect()
        }
        expected = set(RP.finalize_emails(pairs))
        assert got == expected


class TestCanonicalization:
    @pytest.mark.parametrize(
        "url,expected",
        [
            ("HTTP://EXAMPLE.COM:80/Path?b=2&a=1#frag", "http://example.com/Path?a=1&b=2"),
            ("https://A.com:443/", "https://a.com/"),
            ("https://a.com:8443/x", "https://a.com:8443/x"),
            ("http://a.com", "http://a.com/"),
            ("http://u:p@Host.com/x", "http://u:p@host.com/x"),
            ("not a url", "not a url"),
        ],
    )
    def test_canonical_form(self, spark, url, expected):
        df = spark.createDataFrame([(url,)], ["u"])
        out = df.select(NC.canonicalize_url(F.col("u")).alias("c")).first()["c"]
        assert out == expected


class TestHrefRegexCaseSensitivity:
    """Crawler.fs:76,126,156 — ``EmailRegex()`` (the href matcher) is
    instantiated with RegexOptions.None: case-SENSITIVE and non-Singleline.
    Only the anchor regex (Crawler.fs:54-57) has IgnoreCase|Singleline.
    Locks the ADVICE-r01 high finding."""

    HTML = (
        '<a href="http://f.com/contact.html">ok</a>'
        '<A HREF="http://f.com/upper.html">upper</A>'
        '<a href="http://f.com/bro\nken.html">nl</a>'
        '<a HREF="mailto:SHOUT@F.COM">m</a>'
    )

    def test_refsem_href_values(self):
        vals = RE_._href_match_values(self.HTML)
        # uppercase HREF= and the newline-broken value must NOT match
        assert "http://f.com/contact.html" in vals
        assert all("upper" not in v for v in vals)
        assert all("\n" not in v and "broken" not in v and "bro" not in v for v in vals)

    def test_refsem_mailto_skips_upper_href(self):
        assert RE_.search_mailto_results(self.HTML) == []
        lower = self.HTML.replace('HREF="mailto:', 'href="mailto:')
        assert RE_.search_mailto_results(lower) == ["shout@f.com"]

    def test_anchor_regex_still_insensitive_multiline(self):
        anchors = RE_.ANCHOR_RE.findall(self.HTML)
        urls = [u for u, _ in anchors]
        assert "http://f.com/upper.html" in urls  # IgnoreCase holds
        assert "http://f.com/bro\nken.html" in urls  # Singleline holds

    def test_engine_extract_matches_refsem(self, spark):
        from companycatalogcrawlerparser_spark.operators.extract import (
            extract_tokens_native,
        )

        df = spark.createDataFrame(
            [(1, "http://f.com", bytearray(self.HTML.encode()))],
            "company_id long, page_url string, html binary",
        )
        row = extract_tokens_native(df).collect()[0]
        assert list(row["hrefs"]) == RE_._href_match_values(self.HTML)


class TestAdmissionChainParity:
    """admit_frontier (native DataFrame chain) vs refsem.search_href_results."""

    PAGES = {
        "http://firm.com": [
            "/contact.html", "/contact.html", "/about.html", "/logo.png",
            "http://facebook.com/firm-contact", "http://other.com/contact",
            "/x.html?id=2&topmenu=1", "/x.html?id=2", "/contact/123/",
            "/contact-" + "a" * 80, "mailto:i@f.com", "//firm.com/kontakt",
            "/o-nas", "tiny", "/ends//", "/about.htm", "/a.php", "/page.aspx",
            "/контакты", "/info", "/deep/kontakt/", "/feedback",
        ],
        "http://www.shop-site.ru": [
            "/kontakty.html", "/catalog/item5", "/about-us/", "o-kompanii.html",
            "/ofis.htm", "https://shop-site.ru/contact", "/price.html",
        ],
    }

    def test_parity(self, spark):
        # reference extracts raw hrefs from html; feed the raw list here —
        # the regex-extraction side is covered by refsem tests
        rows = [
            (page_id, base, hrefs)
            for page_id, (base, hrefs) in enumerate(self.PAGES.items())
        ]
        df = spark.createDataFrame(
            rows, "company_id long, base_url string, hrefs array<string>"
        )
        out = NA.admit_frontier(df).select("company_id", F.inline("admitted"))
        got = {}
        for r in out.collect():
            got.setdefault(r["company_id"], []).append((r["seq"], r["v"]))
        for page_id, (base, hrefs) in enumerate(self.PAGES.items()):
            html = "".join(f'<a href="{h}">x</a>' for h in hrefs)
            expected = RE_.search_href_results(html, base)
            got_ordered = [u for _, u in sorted(got.get(page_id, []))]
            assert got_ordered == expected, f"page {base}"

"""Catalog scrape plan tests — H1-H8 extraction through Spark UDTFs,
pagination explode, dedup, merge ops (SURVEY.md §3.1)."""

import hashlib

from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.plans import catalog as C
from companycatalogcrawlerparser_spark.operators import merge as M
from companycatalogcrawlerparser_spark.refsem import htmlparse as H
from companycatalogcrawlerparser_spark.sources import webgen


def _pages_df(spark, rows):
    return spark.createDataFrame(rows, "url string, html binary, category_id long")


class TestCategoryExtract:
    def test_bizly_tree_parity(self, spark):
        html = webgen.bizly_catalog_page()
        df = _pages_df(spark, [("http://bizly.test/", html.encode(), 0)])
        got = [
            (r["category_id"], r["name"], r["parent_id"], r["href"], r["city_code"])
            for r in C.extract_categories(df, "bizly").collect()
        ]
        expected = H.get_div_row(H.parse_html(html))
        assert sorted(got) == sorted(expected)
        # structure: 2 roots, 2 sub-headers, 3 leaves with parent linkage
        roots = [r for r in got if r[0] < 1000]
        subs = [r for r in got if 1000 < r[0] < 100000]
        leaves = [r for r in got if r[0] > 100000]
        assert len(roots) == 2 and len(subs) == 2 and len(leaves) == 3
        assert all(l[2] in {s[0] for s in subs} for l in leaves)

    def test_company_extract_all_layouts(self, spark):
        cases = [
            ("bizly", webgen.bizly_company_page(), H.get_div_company),
            ("spravker", webgen.spravker_company_page(), H.get_div_companies),
            ("jsprav", webgen.jsprav_company_page(), H.get_nov_div_companies),
        ]
        for layout, html, oracle in cases:
            df = _pages_df(spark, [(f"http://{layout}.test/", html.encode(), 7)])
            key = lambda t: (t[0], t[1])  # noqa: E731 — None-safe sort key
            got = sorted(
                (
                    (r["company_seq"], r["category_id"], r["name"], r["address"],
                     r["phone"], r["timework"], r["site_url"])
                    for r in C.extract_companies(df, layout).collect()
                ),
                key=key,
            )
            expected = sorted(oracle(H.parse_html(html), 7), key=key)
            assert got == expected, layout

    def test_jsprav_quirk_q4_row_per_address_block(self, spark):
        html = webgen.jsprav_company_page()
        rows = H.get_nov_div_companies(H.parse_html(html), 1)
        # first org has TWO ul.address blocks → two rows; second has none → zero
        assert len(rows) == 2
        assert rows[0][0] == 1 and rows[1][0] == 1
        # base64 data-lnk overrides the visible url
        assert rows[0][6] == "http://jsp-firm.example.com"
        # second row accumulated the timework from the second block
        assert rows[1][5] == "8-17"

    def test_extracted_text_digest(self, spark):
        """Byte-identical extracted text per url (input_hint): the engine's
        text column equals the oracle InnerText digest."""
        pages_rows, _ = webgen.build_corpus_local(10)
        for p in pages_rows:
            oracle_text = H.parse_html(p["html"].decode()) .inner_text() if p["html"] else ""
            assert hashlib.sha256(p["text"].encode()).hexdigest() == hashlib.sha256(
                oracle_text.encode()
            ).hexdigest()


class TestPagination:
    def test_page_count_and_explode(self, spark):
        html = webgen.bizly_company_page(page=1, total_pages=4)
        df = _pages_df(spark, [("http://bizly.test/cat/x/", html.encode(), 3)])
        counts = C.extract_page_counts(df)
        assert counts.first()["page_count"] == 4
        urls = C.listing_urls(counts.withColumn("category_id", F.lit(3)))
        got = sorted(r["url"] for r in urls.collect())
        assert got == [
            "http://bizly.test/cat/x/page-2/",
            "http://bizly.test/cat/x/page-3/",
            "http://bizly.test/cat/x/page-4/",
        ]

    def test_querystring_template(self, spark):
        html = webgen.bizly_company_page(page=1, total_pages=2)
        df = _pages_df(spark, [("http://spr.test/cat/y", html.encode(), 3)])
        counts = C.extract_page_counts(df)
        urls = C.listing_urls(counts, template="?p-{n}")
        assert [r["url"] for r in urls.collect()] == ["http://spr.test/cat/y?p-2"]


class TestMergeOps:
    def test_insert_if_absent(self, spark):
        existing = spark.createDataFrame(
            [(1, "Ремонт", "77")], "id long, name string, city_code string"
        )
        new = spark.createDataFrame(
            [(2, "Ремонт", "77"), (3, "Торговля", "77"), (4, "Торговля", "77")],
            "id long, name string, city_code string",
        )
        out = M.insert_if_absent(existing, new, ["name", "city_code"])
        rows = {(r["name"], r["city_code"]): r["id"] for r in out.collect()}
        assert rows == {("Ремонт", "77"): 1, ("Торговля", "77"): 3}


class TestMailer:
    def test_resumable_batches(self, spark):
        from companycatalogcrawlerparser_spark.plans import mailer as ML

        emails = spark.createDataFrame(
            [(i, f"user{i}%40mail.test" if i == 3 else f"user{i}@mail.test", i == 5)
             for i in range(1, 8)],
            "email_id long, email string, bad_ignore_email boolean",
        )
        state = spark.createDataFrame([], "email_file_name string, last_id long")
        b1 = ML.next_batch(emails, state, "t.msg", batch_size=3).collect()
        assert [r["email_id"] for r in b1] == [1, 2, 3]
        assert b1[2]["send_address"] == "user3@mail.test"  # %40 fixup
        state = ML.commit_batch(state, spark, "t.msg", 3)
        b2 = ML.next_batch(emails, state, "t.msg", batch_size=3).collect()
        assert [r["email_id"] for r in b2] == [4, 6, 7]  # 5 is bad-flagged

    def test_next_batch_distinct_keeps_min_id(self, spark):
        """distinctBy over the EmailId-sorted scan keeps the FIRST (min id)
        row per email text (ConsoleAppMailer/Program.fs:50 after
        DbAccess.fs:21) — never an arbitrary plan-dependent one."""
        from companycatalogcrawlerparser_spark.plans import mailer as ML

        emails = spark.createDataFrame(
            [(7, "dup@mail.test", False), (2, "dup@mail.test", False),
             (5, "dup@mail.test", False), (3, "solo@mail.test", False)],
            "email_id long, email string, bad_ignore_email boolean",
        )
        state = spark.createDataFrame([], "email_file_name string, last_id long")
        got = ML.next_batch(emails, state, "t.msg", batch_size=10).collect()
        assert sorted(r["email_id"] for r in got) == [2, 3]  # min id kept

    def test_delete_files_janitor(self, tmp_path):
        """deleteFiles sweep (DataStructure/Library.fs:57-68): the default
        mirrors the mailer's recursive=false call — TOP-LEVEL only,
        subdirectory files untouched; recursive=True sweeps the tree;
        pattern-scoped, leaves non-matching files alone either way."""
        from companycatalogcrawlerparser_spark.plans import mailer as ML

        (tmp_path / "sub").mkdir()
        (tmp_path / "a.msg").write_bytes(b"x")
        (tmp_path / "sub" / "b.msg").write_bytes(b"y")
        (tmp_path / "sub" / "keep.txt").write_bytes(b"z")
        deleted = ML.delete_files(str(tmp_path), "*.msg")
        assert len(deleted) == 1
        assert not (tmp_path / "a.msg").exists()
        assert (tmp_path / "sub" / "b.msg").exists()  # ref: TopDirectoryOnly
        deleted = ML.delete_files(str(tmp_path), "*.msg", recursive=True)
        assert len(deleted) == 1
        assert not (tmp_path / "sub" / "b.msg").exists()
        assert (tmp_path / "sub" / "keep.txt").exists()

    def test_send_groups_chunking(self, spark):
        """cc/bcc shaping: take 60 |> chunkBySize 10 (Program.fs:130-150)."""
        from companycatalogcrawlerparser_spark.plans import mailer as ML

        batch = spark.createDataFrame(
            [(i, f"u{i}@mail.test") for i in range(1, 76)],
            "email_id long, email string",
        )
        rows = ML.send_groups(batch, take=60, chunk_size=10).collect()
        assert len(rows) == 60  # take cap
        by_chunk = {}
        for r in rows:
            by_chunk.setdefault(r["chunk_id"], []).append(r)
        assert sorted(by_chunk) == list(range(6))
        assert all(len(v) == 10 for v in by_chunk.values())
        # ordering: chunk 0 holds the 10 smallest ids, slots follow id order
        c0 = sorted(by_chunk[0], key=lambda r: r["slot"])
        assert [r["email_id"] for r in c0] == list(range(1, 11))
        # remainder behavior: take=25 → last chunk short
        short = ML.send_groups(batch, take=25, chunk_size=10).collect()
        sizes = {}
        for r in short:
            sizes[r["chunk_id"]] = sizes.get(r["chunk_id"], 0) + 1
        assert sizes == {0: 10, 1: 10, 2: 5}


class TestH7DimensionScrapes:
    """H7 — getCities / getCountryList / getRussionRegionList /
    getRussionCitiesList (HtmlParsing.fs:248-264,285-301,303-314,316-329):
    refsem digest parity + the Spark UDTF lifts."""

    def test_get_cities_refsem(self):
        doc = H.parse_html(webgen.statdata_cities_page())
        rows = H.get_cities(doc)
        # 6 styled tables × 5 height:21px rows with >2 tds; decoy + short
        # rows skipped; code = table ordinal as string
        assert len(rows) == 30
        assert {r[2] for r in rows} == {str(t) for t in range(1, 7)}
        six = [r for r in rows if r[2] == "6"]
        # "г." stripped everywhere, names trimmed
        assert [r[0] for r in six] == ["Header", "Екатеринбург", "Казань", "Омск", "Пермь"]

    def test_get_country_list_refsem(self):
        rows = H.get_country_list(H.parse_html(webgen.country_list_page()))
        assert rows == [
            (0, "Россия", "Российская Федерация", "Москва", "+7", ".ru", "Европа"),
            (0, "Казахстан", "Республика Казахстан", "Астана", "+7", ".kz", "Азия"),
        ]

    def test_get_russian_regions_refsem(self):
        rows = H.get_russian_region_list(H.parse_html(webgen.russian_regions_page()))
        assert rows == [
            ("66", "Свердловская область"),
            ("16", "Республика Татарстан"),
            ("55", "Омская область"),
        ]

    def test_get_russian_cities_refsem(self):
        rows = H.get_russian_cities_list(H.parse_html(webgen.russian_cities_page()))
        # header skipped, short row skipped, exactly-5-td rows kept
        assert rows == [
            ("Екатеринбург", "обл", "66", "Свердловская"),
            ("Казань", "респ", "16", "Татарстан"),
            ("Омск", "обл", "55", "Омская"),
        ]

    def test_spark_lifts_match_refsem(self, spark):
        cases = [
            (webgen.statdata_cities_page(), C.extract_cities, H.get_cities),
            (webgen.country_list_page(), C.extract_country_list, H.get_country_list),
            (webgen.russian_regions_page(), C.extract_russian_regions, H.get_russian_region_list),
            (webgen.russian_cities_page(), C.extract_russian_cities, H.get_russian_cities_list),
        ]
        for html, lift, oracle in cases:
            df = spark.createDataFrame(
                [("http://dim.test/", bytearray(html.encode()))], "url string, html binary"
            )
            got = [tuple(r)[1:] for r in lift(df).collect()]  # drop page_url
            if lift is C.extract_cities:
                got = [g[1:] for g in sorted(got)]  # drop seq (order check below)
            expected = oracle(H.parse_html(html))
            assert got == [tuple(e) for e in expected], lift.__name__

    def test_seed_synthesis_u2_j6(self, spark):
        """Program.fs:345-409 — slice Code='6' cities, translit →
        jsprav URL, J6 city-code broadcast join, reachability probe,
        U2 union with the static list."""
        from pyspark.sql import functions as F

        html = webgen.statdata_cities_page()
        cities = C.extract_cities(
            spark.createDataFrame(
                [("http://statdata.test/", bytearray(html.encode()))],
                "url string, html binary",
            )
        )
        city_dim = spark.createDataFrame(
            [("Екатеринбург", "66"), ("Казань", "16"), ("Омск", "55"),
             ("Header", "00"), ("Пермь", "59")],
            "name string, code string",
        )
        pages = spark.createDataFrame(
            [("https://ekaterinburg.jsprav.ru/",), ("https://kazan.jsprav.ru/",)],
            "url string",
        )
        out = C.synthesize_city_seeds(cities, city_dim, pages)
        got = {(r["url"], r["city_code"]) for r in out.collect()}
        static = set(C.CITY_SEEDS_STATIC)
        # skip(1)/take(n-2) drops Header (first) and Пермь (last);
        # Омск has no pages row → probe fails → excluded
        discovered = got - static
        assert discovered == {
            ("https://ekaterinburg.jsprav.ru/", "66"),
            ("https://kazan.jsprav.ru/", "16"),
        }
        assert static <= got
        # J6 must broadcast the city dimension
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan


class TestTemplateScanS7:
    def test_binary_file_recursive_msg_scan(self, spark, tmp_path):
        """S7 — DataStructure/Library.fs:49-55: recursive *.msg enumeration
        via the binaryFile source."""
        from companycatalogcrawlerparser_spark.plans import mailer as ML

        (tmp_path / "sub").mkdir()
        (tmp_path / "a.msg").write_bytes(b"Subject: hello\n\nBody A")
        (tmp_path / "sub" / "b.msg").write_bytes(b"Subject: hi\n\nBody B")
        (tmp_path / "sub" / "ignore.txt").write_bytes(b"nope")
        df = ML.load_templates(spark, str(tmp_path))
        rows = {r["template_name"].split("/")[-1]: bytes(r["content"]) for r in df.collect()}
        assert set(rows) == {"a.msg", "b.msg"}
        assert rows["a.msg"].endswith(b"Body A")


class TestNestedCategoryFetch:
    """H2/H3 nested page loads (HtmlParsing.fs:68,103) as the two-round
    Spark plan — ids, dedup, and ordering byte-exact vs the refsem walk
    with a real fetch."""

    def _corpus(self, spark, layout):
        if layout == "jsprav":
            cat = webgen.jsprav_catalog_page()
            base = "http://jsprav.test"
            subs = {"http://jsprav.test/cat/uslugi/all/": webgen.jsprav_showall_page()}
        else:
            cat = webgen.spravker_catalog_page()
            base = "http://spravker.test"
            subs = {
                "http://spravker.test/cats/avto/": webgen.spravker_subcats_page(),
                # stroika subcat page absent from corpus → fetch=None branch
            }
        rows = [(f"{base}/", bytearray(cat.encode()))]
        rows += [(u, bytearray(h.encode())) for u, h in subs.items()]
        corpus = spark.createDataFrame(rows, "url string, html binary")
        page1 = spark.createDataFrame(
            [(f"{base}/", bytearray(cat.encode()))], "url string, html binary"
        )
        return page1, corpus, base, cat, subs

    def _oracle(self, layout, cat_html, base, subs):
        lookup = {u: H.parse_html(h) for u, h in subs.items()}
        fetch = lambda u: lookup.get(u)  # noqa: E731
        doc = H.parse_html(cat_html)
        if layout == "jsprav":
            return H.get_nov_category_links(doc, base, "77", fetch=fetch)
        return H.get_category_links(doc, base, "77", fetch=fetch)

    def test_nested_parity_both_layouts(self, spark):
        for layout in ("jsprav", "spravker"):
            page1, corpus, base, cat, subs = self._corpus(spark, layout)
            got = sorted(
                (r["category_id"], r["name"], r["parent_id"], r["href"], r["city_code"])
                for r in C.extract_categories_nested(
                    page1, corpus, layout, base_url=base
                ).collect()
            )
            expected = sorted(self._oracle(layout, cat, base, subs))
            assert got == [tuple(e) for e in expected], layout
            # the nested rows actually came through (more than fetch=None)
            doc = H.parse_html(cat)
            flat = (
                H.get_nov_category_links(doc, base, "77", fetch=None)
                if layout == "jsprav"
                else H.get_category_links(doc, base, "77", fetch=None)
            )
            assert len(got) > len(flat), layout

    def test_in_list_dedup_exercised(self, spark):
        page1, corpus, base, cat, subs = self._corpus(spark, "jsprav")
        rows = C.extract_categories_nested(page1, corpus, "jsprav", base_url=base).collect()
        names = [r["name"] for r in rows]
        # 'Ремонт' appears ONCE despite being both a listed leaf and a
        # cat-item on the show_all page (in-list dedup, HtmlParsing.fs:72-81)
        assert names.count("Ремонт") == 1
        assert "Сантехника" in names and "Электрика" in names

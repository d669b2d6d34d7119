"""Physical-plan audits — the 100-TB design assertions (task brief:
'push down and prune', 'stay JVM-side', 'broadcast small dims').

These tests read ``explain`` output: they pin the *shape* of the plan so a
regression that silently de-optimizes (a filter that stops pushing down, a
dimension join that stops broadcasting, Python creeping into a native
stage) fails CI, not a 1000-executor run.
"""

import pytest
from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.functions import admission as NA
from companycatalogcrawlerparser_spark.functions import canon as C
from companycatalogcrawlerparser_spark.functions import predicates as P


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from companycatalogcrawlerparser_spark.sources import webgen

    rows, _ = webgen.build_corpus_local(60)
    path = str(tmp_path_factory.mktemp("pages_pq") / "pages")
    spark.createDataFrame(rows, schema=webgen.PAGES_SCHEMA).write.parquet(path)
    return path


class TestPushdownAndPruning:
    def test_filter_pushed_to_parquet(self, spark, pages_parquet):
        df = spark.read.parquet(pages_parquet).filter(
            F.col("lang") == "ru"
        ).select("url", "lang")
        plan = _plan(df)
        assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,ru)]" in plan

    def test_column_pruning(self, spark, pages_parquet):
        df = spark.read.parquet(pages_parquet).select("url", "status")
        plan = _plan(df)
        # ReadSchema must NOT include the heavy html column
        read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
        assert read_schema and "html" not in read_schema[0]
        assert "url" in read_schema[0] and "status" in read_schema[0]

    def test_status_filter_pushdown_redirects(self, spark, pages_parquet):
        from companycatalogcrawlerparser_spark.sources.pages import redirect_map

        pages = spark.read.parquet(pages_parquet)
        rm = redirect_map(pages)
        # the closure seed scan must push the 3xx range predicate down
        redirects_scan = pages.filter((F.col("status") >= 300) & (F.col("status") <= 399))
        plan = _plan(redirects_scan)
        assert "GreaterThanOrEqual(status,300)" in plan
        assert rm.columns == ["src_url", "resolved_url", "resolve_error", "hops"]


class TestRedirectResolution:
    """RFC 3986 Location resolution (reference: ``new Uri(base, rel)``,
    Crawler.fs:223) — driver closure and distributed closure must agree,
    including dot-segment and network-path Locations (ADVICE r01)."""

    ROWS = [
        # (url, status, redirect_to)
        ("http://a.ru/dir/page", 301, "../contact", None),
        ("http://a.ru/contact", 200, None, b"<html>c</html>"),
        ("http://b.ru/x", 302, "./y.html", None),
        ("http://b.ru/y.html", 200, None, b"<html>y</html>"),
        ("http://c.ru/p", 301, "a/b/../../z", None),
        ("http://c.ru/z", 200, None, b"<html>z</html>"),
        ("http://d.ru/p", 301, "//e.ru/q", None),
        ("http://e.ru/q", 200, None, b"<html>q</html>"),
        ("http://f.ru/p", 302, "http://f.ru/p2", None),
        ("http://f.ru/p2", 302, "http://f.ru/p", None),  # cycle
    ]
    SCHEMA = "url string, status int, redirect_to string, html binary"

    EXPECTED = {
        "http://a.ru/dir/page": ("http://a.ru/contact", None),
        "http://b.ru/x": ("http://b.ru/y.html", None),
        "http://c.ru/p": ("http://c.ru/z", None),
        "http://d.ru/p": ("http://e.ru/q", None),
        "http://f.ru/p": ("http://f.ru/p", "redirect_cycle"),
        "http://f.ru/p2": ("http://f.ru/p2", "redirect_cycle"),
    }

    def _check(self, rm_rows):
        got = {r["src_url"]: (r["resolved_url"], r["resolve_error"]) for r in rm_rows}
        assert got == self.EXPECTED

    def test_driver_closure_urljoin(self, spark):
        from companycatalogcrawlerparser_spark.sources.pages import redirect_map

        pages = spark.createDataFrame(self.ROWS, self.SCHEMA)
        self._check(redirect_map(pages).collect())

    def test_distributed_closure_equals_driver(self, spark, monkeypatch):
        from companycatalogcrawlerparser_spark.sources import pages as PG

        monkeypatch.setattr(PG, "DRIVER_CLOSURE_MAX_BYTES", -1)
        pages = spark.createDataFrame(self.ROWS, self.SCHEMA)
        self._check(PG.redirect_map(pages).collect())

    def test_wide_rows_take_distributed_path(self, spark, monkeypatch):
        """The gate counts bytes, not rows: three redirects whose 11 MiB
        locations sum past it take the distributed path, with the driver
        path's result."""
        from companycatalogcrawlerparser_spark.sources import pages as PG

        # urls over 80 chars admit a location of any length
        rows = [(f"http://w.ru/{c * 90}", 301, f"http://w.ru/{c * (11 << 20)}", None)
                for c in "abc"]
        pages = spark.createDataFrame(rows, self.SCHEMA)

        def got(rm):
            return sorted((r["src_url"][12], r["resolved_url"][12], len(r["resolved_url"]),
                           r["resolve_error"], r["hops"]) for r in rm.collect())

        wide = PG.redirect_map(pages)
        assert "LocalTableScan" not in wide._jdf.queryExecution().executedPlan().toString()
        monkeypatch.setattr(PG, "DRIVER_CLOSURE_MAX_BYTES", 1 << 30)
        driver = PG.redirect_map(pages)
        assert "LocalTableScan" in driver._jdf.queryExecution().executedPlan().toString()
        assert got(wide) == got(driver) == [
            (c, c, 12 + (11 << 20), None, 1) for c in "abc"
        ]


class TestJoinStrategies:
    def test_dim_join_broadcasts(self, spark):
        big = spark.range(0, 100000).withColumn("key", F.col("id") % 100)
        dim = spark.range(0, 100).withColumnRenamed("id", "key").withColumn(
            "name", F.concat(F.lit("n"), F.col("key"))
        )
        joined = big.join(F.broadcast(dim), "key")
        assert "BroadcastHashJoin" in _plan(joined)

    def test_politeness_dim_join_is_broadcast(self, spark):
        from companycatalogcrawlerparser_spark.operators.frontier import schedule

        frontier = spark.createDataFrame(
            [(1, "http://a.ru/x", 0, 0)], ["company_id", "url", "priority", "seq"]
        )
        politeness = spark.createDataFrame(
            [("a.ru", 500), ("*", 1000)], ["host", "delay_ms"]
        )
        plan = _plan(schedule(frontier, politeness))
        assert "BroadcastHashJoin" in plan

    def test_schedule_is_one_window(self, spark):
        """Without a politeness frame the ranks are one per-host window:
        no group sizes to aggregate and no offsets to join back."""
        import re

        from companycatalogcrawlerparser_spark.operators.frontier import schedule

        frontier = spark.createDataFrame(
            [(1, "http://a.ru/x", 0, 0)], ["company_id", "url", "priority", "seq"]
        )
        plan = schedule(frontier)._jdf.queryExecution().optimizedPlan().toString()
        nodes = [m.group(1) for m in re.finditer(r"^[\s:+\-]*(\w+)", plan, re.M)]
        assert nodes.count("Window") == 1, plan
        assert "Aggregate" not in nodes and "Join" not in nodes, plan


class TestJvmSideOnly:
    def test_admission_chain_has_no_python(self, spark):
        df = spark.createDataFrame(
            [(1, "http://firm.com", ["/contact.html"])],
            "company_id long, base_url string, hrefs array<string>",
        )
        plan = _plan(NA.admit_frontier(df))
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "FlatMapGroupsInPandas" not in plan

    def test_canon_and_predicates_native(self, spark):
        df = spark.createDataFrame([("http://www.a.ru/x?b=2&a=1#f",)], ["url"])
        out = df.select(
            C.canonicalize_url(F.col("url")).alias("c"),
            P.is_contacts_page(F.col("url")).alias("p"),
        )
        plan = _plan(out)
        # (the source scan mentions applySchemaToPythonRDD because the test
        # data comes from the driver — only UDF *eval* nodes matter)
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                     "FlatMapGroupsInPandas"):
            assert node not in plan

    def test_whole_stage_codegen_covers_filter_chain(self, spark, pages_parquet):
        df = (
            spark.read.parquet(pages_parquet)
            .filter(P.is_not_image_script_css_ext(F.col("url")))
            .filter(P.not_social_network(F.col("url")))
            .select("url")
        )
        plan = _plan(df)
        # formatted mode tags fused spans with "codegen id"; under heavy
        # concurrent sessions codegen may appear under either marker
        assert ("WholeStageCodegen" in plan) or ("codegen id" in plan), plan


class TestSimilarityPlans:
    def test_cosine_pairs_equi_joins_on_signature(self, spark):
        """The LSH self-join must be an EQUI join on the signature column —
        a BroadcastNestedLoopJoin/CartesianProduct would mean the bucket
        predicate degraded to a post-filter (quadratic at any scale)."""
        from companycatalogcrawlerparser_spark.operators import similarity as SIM

        df = spark.range(200).select(
            F.col("id").alias("vec_id"),
            F.array(*[(F.col("id") % 7 + i).cast("float") for i in range(4)]).alias(
                "embedding"
            ),
        )
        plan = _plan(SIM.cosine_pairs(df, 0.5, dim=4, max_bucket=64))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_winnow_and_minhash_plans_native_no_cartesian(self, spark):
        """The r5 scale shapes stay JVM-native end-to-end: winnow_prints
        (explode → codegen md5 → frame window) and minhash_lsh_pairs
        (one-md5 universal-hash family) must contain no Python eval node
        and no cartesian/nested-loop join. (Codegen span checks don't
        survive AQE's pre-execution formatted plan — the no-Python
        assertions are the load-bearing part: md5/pmod/conv are codegen'd
        whenever no interpreter node interrupts the stage.)"""
        from companycatalogcrawlerparser_spark.operators import dedup as D

        docs = spark.createDataFrame(
            [(i, f"doc text number {i} with words " * 3) for i in range(40)],
            "doc_id long, text string",
        )
        for df in (D.winnow_prints(docs), D.winnow_pairs(docs),
                   D.minhash_lsh_pairs(docs)):
            plan = _plan(df)
            for node in ("BatchEvalPython", "ArrowEvalPython",
                         "MapInPandas", "CartesianProduct",
                         "BroadcastNestedLoopJoin"):
                assert node not in plan, node

    def test_sitemap_ingest_no_python_no_cartesian(self, spark):
        from companycatalogcrawlerparser_spark import harness as H
        from companycatalogcrawlerparser_spark.operators import sitemap as SM

        pages = spark.createDataFrame(
            [(u, bytearray(x)) for u, x in H.sitemap_fixture_bytes()],
            "url string, html binary",
        )
        roots = spark.createDataFrame([(u,) for u in H.SITEMAP_ROOTS], ["url"])
        # Python runs ONLY on the gz-magic branch (the Arrow gunzip);
        # no cartesian anywhere
        plan = _plan(SM.sitemap_urls(pages, roots))
        assert "BatchEvalPython" not in plan
        for node in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan


class TestCurationPlans:
    def test_split_sequences_no_shuffle_no_python(self, spark):
        """The chunker is embarrassingly parallel: one scan, explode,
        codegen slicing — any Exchange in the plan means a shuffle crept
        into a per-row operation."""
        from companycatalogcrawlerparser_spark.operators import curation as CU

        docs = spark.createDataFrame(
            [(i, "tok " * 40) for i in range(40)],
            "doc_id long, text string",
        )
        plan = _plan(CU.split_sequences(docs, 16))
        for node in ("Exchange", "BatchEvalPython", "ArrowEvalPython",
                     "CartesianProduct"):
            assert node not in plan, node

    def test_exactsubstr_no_python_no_cartesian(self, spark):
        """duplicate_spans / remove_duplicate_spans stay JVM-native: the
        only joins are the hash mark-back and the per-doc span join —
        never a nested loop."""
        from companycatalogcrawlerparser_spark.operators import dedup as D

        docs = spark.createDataFrame(
            [(i, f"doc text number {i} with words " * 3) for i in range(40)],
            "doc_id long, text string",
        )
        for df in (D.duplicate_spans(docs, n=4),
                   D.remove_duplicate_spans(docs, n=4)):
            plan = _plan(df)
            for node in ("BatchEvalPython", "ArrowEvalPython",
                         "MapInPandas", "CartesianProduct",
                         "BroadcastNestedLoopJoin"):
                assert node not in plan, node

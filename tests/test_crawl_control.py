"""The crawl's control path: manifest counters observed on the commit
writes, recorded table schemas, a bounded number of Spark jobs, frames
built from driver rows that need no Python pass, the robots parse skipped
on corpora without robots.txt rows, and session state released when a
round raises."""

import json
import os

import pytest
from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.operators import robots as RB
from companycatalogcrawlerparser_spark.operators.merge import assign_dense_ids
from companycatalogcrawlerparser_spark.plans.crawl import CrawlConfig, finalize, run_crawl
from companycatalogcrawlerparser_spark.session import local_frame
from companycatalogcrawlerparser_spark.sources import webgen
from companycatalogcrawlerparser_spark.sources.pages import redirect_map
from companycatalogcrawlerparser_spark.storage.snapshots import SnapshotStore
from perfbench.workloads import checksum_exprs

N_COMPANIES = 20
# Spark jobs of one two-round crawl of the fixture corpus at local[8],
# finalize included: 40 measured with one politeness window per host and
# no repartition of the stamped frontier (the url-seen probe's joins run
# inside round 1's fetch query; installing the blooms runs no job).
MAX_CRAWL_JOBS = 41


def _cfg(**kw):
    return CrawlConfig(num_partitions=8, n_buckets=16, **kw)


def _last_job_id(sc) -> int:
    """Id of a probe job: Spark numbers jobs in submission order, so the
    difference of two probes counts the jobs between them (any thread)."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup("job-count-probe", "job-count-probe")
    try:
        sc.parallelize([0], 1).count()
        return max(sc.statusTracker().getJobIdsForGroup("job-count-probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    """The fixture corpus as parquet, so the crawl tunes its input split
    size from the files."""
    pages_rows, seeds_rows = webgen.build_corpus_local(N_COMPANIES)
    d = str(tmp_path_factory.mktemp("control_corpus"))
    spark.createDataFrame(pages_rows, schema=webgen.PAGES_SCHEMA).write.parquet(
        f"{d}/pages"
    )
    spark.createDataFrame(seeds_rows, schema=webgen.SEEDS_SCHEMA).write.parquet(
        f"{d}/seeds"
    )
    return d


def _inputs(spark, corpus_dir):
    return (
        spark.read.parquet(f"{corpus_dir}/pages"),
        spark.read.parquet(f"{corpus_dir}/seeds"),
    )


@pytest.fixture(scope="module")
def crawled(spark, corpus_dir, tmp_path_factory):
    """One full crawl of the fixture corpus: (store dir, Spark jobs it ran)."""
    pages, seeds = _inputs(spark, corpus_dir)
    out = str(tmp_path_factory.mktemp("control_store"))
    before = _last_job_id(spark.sparkContext)
    run_crawl(spark, pages, seeds, out, _cfg())
    jobs = _last_job_id(spark.sparkContext) - before - 1
    return out, jobs


class TestManifest:
    def test_counters_match_committed_tables(self, spark, crawled):
        store = SnapshotStore(spark, crawled[0])
        rounds = store.committed_rounds()
        assert rounds == [0, 1]
        for r in rounds:
            trace = store.read(r, "trace")
            want = {
                "pages_fetched": trace.filter(F.col("action") == "fetched").count(),
                "fetch_errors": trace.filter(F.col("action") == "error").count(),
                "urls_enqueued": store.read(r, "frontier_next").count(),
                "emails_bagged": store.read(r, "bag").count(),
                "max_host_rank": trace.agg(F.max("host_rank")).first()[0],
            }
            assert store.manifest(r)["counters"] == want, f"round {r}"
        # the fixture exercises every counter
        assert store.manifest(0)["counters"]["urls_enqueued"] > 0
        assert store.manifest(1)["counters"]["fetch_errors"] > 0

    def test_recorded_schema_reads_without_a_job(self, spark, crawled):
        store = SnapshotStore(spark, crawled[0])
        sc = spark.sparkContext
        for r in store.committed_rounds():
            for name, entry in store.manifest(r)["tables"].items():
                before = _last_job_id(sc)
                df = store.read(r, name)
                assert _last_job_id(sc) - before - 1 == 0, (r, name)
                inferred = spark.read.parquet(entry["path"]).schema
                assert df.schema == inferred, (r, name)

    def test_resume_from_store_without_schemas(
        self, spark, corpus_dir, crawled, tmp_path
    ):
        """A store written before manifests carried schemas resumes by
        schema inference and finishes the same crawl."""
        pages, seeds = _inputs(spark, corpus_dir)
        out = str(tmp_path / "store")
        run_crawl(spark, pages, seeds, out, _cfg(max_depth=1))
        path = os.path.join(out, "manifests", "round-0.json")
        with open(path) as f:
            man = json.load(f)
        for entry in man["tables"].values():
            del entry["schema"]
        with open(path, "w") as f:
            json.dump(man, f)
        resumed = run_crawl(spark, pages, seeds, out, _cfg())
        full = SnapshotStore(spark, crawled[0]).read_union("trace")
        cols = ["round", "company_id", "url", "action", "host_rank", "not_before"]
        assert sorted(resumed["trace"].select(cols).collect()) == sorted(
            full.select(cols).collect()
        )

    def test_resume_rebuilds_old_bloom_layout(
        self, spark, corpus_dir, crawled, tmp_path
    ):
        """A round 0 committed with the older blooms layout (one filter
        byte string per bucket) resumes: the crawl rebuilds the blooms
        from url_seen and finishes the same crawl."""
        pages, seeds = _inputs(spark, corpus_dir)
        out = str(tmp_path / "store")
        run_crawl(spark, pages, seeds, out, _cfg(max_depth=1))
        old = spark.createDataFrame(
            [(b, 16384, bytearray(2048), "bloom") for b in range(16)],
            "bucket long, m_bits long, bloom binary, kind string",
        )
        path = os.path.join(out, "data", "round=0", "blooms")
        old.write.parquet(path)
        man_path = os.path.join(out, "manifests", "round-0.json")
        with open(man_path) as f:
            man = json.load(f)
        man["tables"]["blooms"] = {"path": path, "schema": old.schema.jsonValue()}
        with open(man_path, "w") as f:
            json.dump(man, f)

        resumed = run_crawl(spark, pages, seeds, out, _cfg())
        full_store = SnapshotStore(spark, crawled[0])
        full = finalize(spark, full_store)

        def sums(res, store):
            tables = {k: res[k] for k in ("emails", "company_email", "flags", "url_seen")}
            tables["trace"] = store.read_union("trace")
            tables["bag"] = store.read_union("bag")
            return {k: tuple(v.agg(*checksum_exprs(v)).first()) for k, v in tables.items()}

        assert sums(resumed, SnapshotStore(spark, out)) == sums(full, full_store)


class TestControlPath:
    def test_job_count_bounded(self, crawled):
        assert crawled[1] <= MAX_CRAWL_JOBS

    def test_driver_frames_skip_python(self, spark, corpus_dir, tmp_path, monkeypatch):
        pages, seeds = _inputs(spark, corpus_dir)
        rmap = redirect_map(pages)
        assert rmap.count() > 0
        assert "ExistingRDD" not in _executed_plan(rmap)

        ids = assign_dense_ids(
            local_frame(spark, [("b",), ("a",), ("c",)], "email string"),
            "email", "email_id",
        )
        assert "ExistingRDD" not in _executed_plan(ids)
        assert sorted(tuple(r) for r in ids.collect()) == [
            ("a", 1), ("b", 2), ("c", 3)
        ]

        committed = {}
        orig = SnapshotStore.commit

        def capture(self, round_id, tables, **kw):
            committed[round_id] = dict(tables)
            return orig(self, round_id, tables, **kw)

        monkeypatch.setattr(SnapshotStore, "commit", capture)
        run_crawl(spark, pages, seeds, str(tmp_path / "store"), _cfg())
        for name in ("flags", "frontier_next"):
            assert "ExistingRDD" not in _executed_plan(committed[1][name]), name

    def test_package_builds_driver_frames_through_arrow(self):
        """Only session.local_frame calls createDataFrame (the harness's
        test fixtures aside)."""
        pkg = os.path.dirname(os.path.dirname(os.path.abspath(webgen.__file__)))
        callers = []
        for dirpath, _, files in os.walk(pkg):
            for fn in files:
                path = os.path.join(dirpath, fn)
                rel = os.path.relpath(path, pkg)
                if not fn.endswith(".py") or rel in ("session.py", "harness.py"):
                    continue
                with open(path, encoding="utf-8") as f:
                    if "createDataFrame(" in f.read():
                        callers.append(rel)
        assert callers == []

    def test_no_robots_rows_skip_the_parse(self, spark, corpus_dir, tmp_path, monkeypatch):
        pages, seeds = _inputs(spark, corpus_dir)
        assert RB.robots_pages(pages).isEmpty()

        def boom(*a, **kw):
            raise AssertionError("robots_rules called on a corpus without robots.txt")

        monkeypatch.setattr(RB, "robots_rules", boom)
        res = run_crawl(spark, pages, seeds, str(tmp_path / "store"), _cfg())
        assert res["trace"].count() > 0

    def test_failed_round_restores_conf(self, spark, corpus_dir, tmp_path, monkeypatch):
        """A round that raises still restores the session's split size
        and releases the cached redirect map."""
        from companycatalogcrawlerparser_spark.plans import crawl as C

        key = "spark.sql.files.maxPartitionBytes"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "64m")
        try:
            pages, seeds = _inputs(spark, corpus_dir)
            rmaps = []

            def keep(p):
                rmaps.append(redirect_map(p))
                return rmaps[-1]

            def fail(self, *a, **kw):
                assert spark.conf.get(key) != "64m"  # the crawl tuned it
                raise RuntimeError("commit failed")

            monkeypatch.setattr(C, "redirect_map", keep)
            monkeypatch.setattr(SnapshotStore, "commit", fail)
            with pytest.raises(RuntimeError, match="commit failed"):
                run_crawl(spark, pages, seeds, str(tmp_path / "store"), _cfg())
            assert spark.conf.get(key) == "64m"
            level = rmaps[0].storageLevel
            assert not (level.useMemory or level.useDisk)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)

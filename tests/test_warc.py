"""WARC ingestion source (engine-new): refsem record-splitter semantics +
the binaryFile→mapInPandas Spark source parity, plain and gzip layouts."""

import datetime as dt

from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark import harness as H
from companycatalogcrawlerparser_spark.refsem import warc as RW
from companycatalogcrawlerparser_spark.sources.warc import (
    build_cdx_lines,
    parse_warc_pages,
    read_cdx,
    read_warc,
    read_warc_indexed,
    read_warc_ranged,
    warc_files,
    warc_ranges,
)


class TestRefsemWarc:
    def test_split_records_counts_and_types(self):
        data = H.warc_fixture_bytes()["seg-a.warc"]
        recs = RW.split_records(data)
        assert [h.get("warc-type") for h, _ in recs] == [
            "warcinfo", "request", "response", "response", "response", "response",
        ]

    def test_pages_skip_invalid_and_keep_order(self):
        data = H.warc_fixture_bytes()["seg-a.warc"]
        pages = RW.pages_from_warc(data)
        assert [p[0] for p in pages] == [
            "http://firm-a.ru/", "http://firm-a.ru/contact",
        ]
        assert pages[0][1] == dt.datetime(2025, 6, 1, 10, 0, 0)
        assert pages[1][1] == dt.datetime(2025, 6, 1, 10, 0, 5, 250000)
        # body = bytes after the HTTP header terminator, CRLFs preserved
        assert pages[0][2] == b"<html><body>home \r\n body</body></html>"

    def test_gzip_concatenated_members(self):
        data = H.warc_fixture_bytes()["seg-b.warc.gz"]
        pages = RW.pages_from_warc(data)
        assert [p[0] for p in pages] == [
            "http://firm-b.ru/", "http://firm-b.ru/about",
        ]
        # lenient block with no HTTP header terminator → taken whole
        assert pages[1][2] == b"no-http-header-block"

    def test_garbage_tolerated(self):
        assert RW.pages_from_warc(b"") == []
        assert RW.pages_from_warc(b"not a warc at all") == []
        # leading junk before the first record marker is skipped
        data = b"JUNK" + H.warc_fixture_bytes()["seg-a.warc"]
        assert len(RW.pages_from_warc(data)) == 2


class TestEngineParserIndependence:
    """The engine-side parser (line-reader state machine) is a separate
    implementation from the refsem oracle (offset scanner); these pin
    their agreement on every fixture and the adversarial cases — the
    agreement is what makes the warc_ingest hash row a semantic check,
    not a plumbing check."""

    def test_matches_oracle_on_all_fixtures(self):
        for name, data in H.warc_fixture_bytes().items():
            assert parse_warc_pages(data) == RW.pages_from_warc(data), name

    def test_matches_oracle_on_garbage(self):
        for data in (
            b"",
            b"not a warc at all",
            b"JUNK" + H.warc_fixture_bytes()["seg-a.warc"],
            H.warc_fixture_bytes()["seg-a.warc"][:100],  # truncated header
            H.warc_fixture_bytes()["seg-a.warc"][:-30],  # truncated block
            H.warc_fixture_bytes()["seg-a.warc"].replace(b"\r\n", b"\n"),
        ):
            assert parse_warc_pages(data) == RW.pages_from_warc(data)

    def test_bad_content_length_ends_file_in_both(self):
        data = H.warc_fixture_bytes()["seg-a.warc"].replace(
            b"Content-Length", b"X-Content-Length", 1
        )
        assert parse_warc_pages(data) == RW.pages_from_warc(data)


class TestBatchSizing:
    def test_content_never_enters_arrow_batches(self, spark):
        """The OOM-relevant invariant at CC scale (~1 GB gzip segments):
        file CONTENT never rides in Arrow rows — only paths do, and bytes
        are opened inside the task one file at a time. The listing scan
        must be column-pruned to path (no content in ReadSchema)."""
        files = warc_files(spark, H.warc_dir())
        assert files.columns == ["path"]
        plan = files._sc._jvm.PythonSQLUtils.explainString(
            files._jdf.queryExecution(), "formatted"
        )
        assert "content" not in plan

    def test_paths_spread_bounded_partitions(self, spark):
        """Bounded round-robin spread (r4 advice): no eager count() job,
        partition count pinned to 4·defaultParallelism regardless of file
        count (never repartition(n_files) at CC scale), and with fewer
        files than partitions each file still lands in its own task."""
        files = warc_files(spark, H.warc_dir())
        n_parts = files.rdd.getNumPartitions()
        assert n_parts == 4 * spark.sparkContext.defaultParallelism
        # round-robin placement may collide at 2 fixture files — the
        # contract is the BOUNDED partition count (memory stays per-FILE
        # inside the task either way), not collision-free placement
        assert files.count() >= 2


class TestRangedRead:
    """Record-level range splitting for oversized plain WARC files: the
    parallel grain drops from file to ~target_bytes record runs, and the
    ranged parse must be bit-identical to the whole-file parse."""

    def _rows(self, df):
        return sorted(
            (r["url"], r["warc_ts"], bytes(r["html"]))
            for r in df.collect()
        )

    def test_ranged_equals_whole_file(self, spark):
        # target_bytes=1 → every record its own range (maximal split)
        whole = self._rows(read_warc(spark, H.warc_dir()))
        ranged = self._rows(
            read_warc_ranged(
                spark, H.warc_dir(), glob="*.warc*", target_bytes=1
            )
        )
        assert ranged == whole

    def test_plain_file_splits_gz_falls_back(self, spark):
        ranges = warc_ranges(
            spark, H.warc_dir(), glob="*.warc*", target_bytes=1
        ).collect()
        by_file = {}
        for r in ranges:
            by_file.setdefault(r["path"].rsplit("/", 1)[-1], []).append(
                (r["offset"], r["length"])
            )
        for v in by_file.values():
            v.sort()
        # plain file: one range per record (6 records in seg-a)
        assert len(by_file["seg-a.warc"]) == 6
        assert by_file["seg-a.warc"][0][0] == 0
        # gzip file: single whole-file range (member-exact split needs a
        # CDX-style index)
        assert len(by_file["seg-b.warc.gz"]) == 1
        assert by_file["seg-b.warc.gz"][0][0] == 0

    def test_coalescing_packs_records_and_covers_file(self, spark, tmp_path):
        """target_bytes > record size: ranges hold RUNS of records, are
        contiguous from offset 0 to EOF, and still parse identically."""
        recs = []
        for i in range(40):
            body = b"<html>%03d</html>" % i
            block = b"HTTP/1.1 200 OK\r\n\r\n" + body
            recs.append(
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Target-URI: http://t.ru/p%d\r\n" % i
                + b"WARC-Date: 2025-06-01T10:00:00Z\r\n"
                b"Content-Length: " + str(len(block)).encode() + b"\r\n\r\n"
                + block + b"\r\n\r\n"
            )
        data = b"".join(recs)
        (tmp_path / "many.warc").write_bytes(data)
        target = len(recs[0]) * 10  # ~10 records per range
        ranges = sorted(
            (r["offset"], r["length"])
            for r in warc_ranges(
                spark, str(tmp_path), target_bytes=target
            ).collect()
        )
        assert 2 <= len(ranges) <= 6  # coalesced runs, not 40 singletons
        assert ranges[0][0] == 0
        for (o1, l1), (o2, _l2) in zip(ranges, ranges[1:]):
            assert o1 + l1 == o2  # contiguous, no gap/overlap
        assert ranges[-1][0] + ranges[-1][1] == len(data)
        got = sorted(
            r["url"]
            for r in read_warc_ranged(
                spark, str(tmp_path), target_bytes=target
            ).collect()
        )
        assert got == sorted(f"http://t.ru/p{i}" for i in range(40))

    def test_offsets_follow_content_length_not_magic_scan(self, spark, tmp_path):
        """A 'WARC/' string inside an HTTP body must NOT split a record:
        boundaries come from the Content-Length chain."""
        body = b"<html>WARC/1.0 looks like a record start\r\n\r\nWARC/</html>"
        block = (
            b"HTTP/1.1 200 OK\r\n\r\n" + body
        )
        rec = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: http://t.ru/\r\n"
            b"WARC-Date: 2025-06-01T10:00:00Z\r\n"
            b"Content-Length: " + str(len(block)).encode() + b"\r\n\r\n"
            + block + b"\r\n\r\n"
        )
        (tmp_path / "trap.warc").write_bytes(rec + rec.replace(b"t.ru", b"u.ru"))
        rows = self._rows(
            read_warc_ranged(spark, str(tmp_path), target_bytes=1)
        )
        assert [r[0] for r in rows] == ["http://t.ru/", "http://u.ru/"]
        assert all(r[2] == body for r in rows)


class TestCdxIndexedRead:
    """CDX-indexed access: record-level parallelism INSIDE .warc.gz
    segments (each index row = one independently-gunzippable member) —
    the standard Common-Crawl random-access pattern and the real answer
    where warc_ranges must fall back to whole-file."""

    def _setup(self, tmp_path):
        data = H.warc_fixture_bytes()["seg-b.warc.gz"]
        (tmp_path / "seg-b.warc.gz").write_bytes(data)
        lines = build_cdx_lines(data, "seg-b.warc.gz")
        (tmp_path / "idx.cdx").write_text("\n".join(lines) + "\n")
        return data, lines

    def test_cdx_parse_and_member_offsets(self, spark, tmp_path):
        data, lines = self._setup(tmp_path)
        rows = sorted(
            (r["url"], r["offset"], r["length"], r["status"])
            for r in read_cdx(spark, str(tmp_path)).collect()
        )
        assert [r[0] for r in rows] == [
            "http://firm-b.ru/", "http://firm-b.ru/about",
        ]
        # offsets/lengths tile the segment: contiguous gzip members
        assert rows[0][1] == 0
        assert rows[0][1] + rows[0][2] == rows[1][1]
        assert all(r[3] == 200 for r in rows)
        # each (offset, length) slice is its own decompressible member
        for _u, off, ln, _s in rows:
            assert data[off:off + 2] == b"\x1f\x8b"
            assert parse_warc_pages(data[off:off + ln])

    def test_indexed_read_matches_whole_file(self, spark, tmp_path):
        self._setup(tmp_path)
        cdx = read_cdx(spark, str(tmp_path))
        got = sorted(
            (r["url"], r["warc_ts"], bytes(r["html"]))
            for r in read_warc_indexed(spark, cdx, str(tmp_path)).collect()
        )
        want = sorted(
            (r["url"], r["warc_ts"], bytes(r["html"]))
            for r in read_warc(spark, str(tmp_path)).collect()
        )
        assert got == want and len(got) == 2

    def test_junk_cdx_lines_drop_out(self, spark, tmp_path):
        self._setup(tmp_path)
        with open(tmp_path / "idx.cdx", "a") as f:
            f.write("short\n")
            f.write("a b not-json\n")
            f.write('k 2025 {"url":"http://x/","filename":"f","offset":"bad","length":"1"}\n')
        cdx = read_cdx(spark, str(tmp_path))
        assert cdx.count() == 2  # only the two real rows survive


class TestSparkWarcSource:
    def test_source_matches_oracle(self, spark):
        got = sorted(
            (r["url"], r["warc_ts"], len(bytes(r["html"])))
            for r in read_warc(spark, H.warc_dir()).collect()
        )
        want = []
        for data in H.warc_fixture_bytes().values():
            for url, ts, body in RW.pages_from_warc(data):
                want.append((url, ts, len(body)))
        assert got == sorted(want)

    def test_schema_matches_pages_contract(self, spark):
        df = read_warc(spark, H.warc_dir())
        assert [f.name for f in df.schema.fields] == [
            "url", "warc_ts", "html", "text", "lang",
        ]
        assert df.schema["warc_ts"].dataType.simpleString() == "timestamp"
        assert df.schema["html"].dataType.simpleString() == "binary"

    def test_feeds_fetch_pipeline(self, spark):
        """The WARC output is a drop-in pages table: canonicalize + host
        grouping run directly on it (the input_hint contract)."""
        from companycatalogcrawlerparser_spark.functions import canon as C

        df = read_warc(spark, H.warc_dir()).select(
            C.canonicalize_url(F.col("url")).alias("canonical_url"),
            C.canonical_host(F.col("url")).alias("host"),
            F.length("html").alias("n"),
        )
        by_host = {
            r["host"]: r["cnt"]
            for r in df.groupBy("host").agg(F.count("*").alias("cnt")).collect()
        }
        assert by_host == {"firm-a.ru": 2, "firm-b.ru": 2}

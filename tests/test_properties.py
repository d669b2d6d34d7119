"""Property-based tests (hypothesis) over the pure-Python refsem oracle.

These pin INVARIANTS of the pinned semantics rather than example points —
the example-parity suites (test_refsem_strings / test_functions_parity)
anchor the quirk-exact values; here hypothesis explores the input space
for structural guarantees the engine's plans rely on (idempotence,
output-charset closure, admission-filter soundness). Pure Python only —
no SparkSession, so the whole file runs in seconds.
"""

from __future__ import annotations

import string

from hypothesis import given, settings, strategies as st

from companycatalogcrawlerparser_spark.refsem import extract as RX
from companycatalogcrawlerparser_spark.refsem import sitemap as RSM
from companycatalogcrawlerparser_spark.refsem import strings as RS
from companycatalogcrawlerparser_spark.refsem.predicates import (
    is_end_with_digits,
    is_not_image_script_css_ext,
    not_social_network,
)

SETTINGS = settings(max_examples=200, derandomize=True, deadline=None)

# URL-ish text: scheme + host-ish + path-ish with querystrings/fragments
_hostish = st.text(
    alphabet=string.ascii_lowercase + string.digits + ".-", min_size=1, max_size=20
).filter(lambda s: not s.startswith(("-", ".")) and ".." not in s and s.strip("."))
_pathish = st.text(
    alphabet=string.ascii_letters + string.digits + "/-_.%?&=#~", max_size=40
)
urls = st.builds(
    lambda sch, h, p: f"{sch}://{h}/{p}",
    st.sampled_from(["http", "https", "HTTP", "HtTpS"]),
    _hostish,
    _pathish,
)


class TestCanonicalization:
    @SETTINGS
    @given(urls)
    def test_canonicalize_idempotent(self, u):
        """canon(canon(u)) == canon(u): the url_seen key is a fixpoint, so
        re-canonicalizing resumed/persisted keys can never split a URL's
        identity across rounds."""
        c1 = RS.canonicalize_url(u)
        assert RS.canonicalize_url(c1) == c1

    @SETTINGS
    @given(urls)
    def test_canonical_host_lowercase_no_scheme(self, u):
        c = RS.canonicalize_url(u)
        scheme, rest = c.split("://", 1)
        host = rest.split("/", 1)[0].rsplit(":", 1)[0]
        assert scheme == scheme.lower()
        assert host == host.lower()

    @SETTINGS
    @given(urls)
    def test_canonicalize_strips_fragment(self, u):
        assert "#" not in RS.canonicalize_url(u)

    @SETTINGS
    @given(urls)
    def test_canonicalize_sorts_query_params(self, u):
        c = RS.canonicalize_url(u)
        if "?" in c:
            q = c.split("?", 1)[1]
            parts = q.split("&")
            assert parts == sorted(parts)


class TestStringQuirks:
    @SETTINGS
    @given(st.text(alphabet=string.printable, max_size=90))
    def test_base64_roundtrip_ascii(self, raw):
        """ASCII payloads roundtrip exactly through the hand-rolled quirk
        decoder (len%4==0 by construction of b64encode)."""
        import base64

        enc = base64.b64encode(raw.encode("ascii")).decode()
        assert RS.decode_base64(enc) == raw

    @SETTINGS
    @given(st.text(alphabet=string.ascii_letters + string.digits + "+/=", max_size=50))
    def test_base64_len_mod4_quirk(self, s):
        """Q5: len % 4 != 0 → '' (never raises)."""
        if len(s) % 4 != 0:
            assert RS.decode_base64(s) == ""

    @SETTINGS
    @given(st.text(max_size=80))
    def test_trim_subject_is_prefix(self, s):
        t = RS.trim_email_with_subject(s)
        assert s.startswith(t)

    @SETTINGS
    @given(st.text(alphabet="абвгдежзиклмнопрстуфхцчшщъыьэюяёАБВГДЕЖЗИКЛМНОПРСТУФХЦЧШЩЪЫЬЭЮЯЁ -", max_size=30))
    def test_translit_output_ascii(self, s):
        out = RS.translit_cyrillic_to_latin(s)
        assert out.isascii()
        assert " " not in out  # space → '-'

    @SETTINGS
    @given(st.text(max_size=400))
    def test_trunc_bounded(self, s):
        assert len(RS.trunc(s)) <= 250

    @SETTINGS
    @given(st.text(max_size=60), st.text(min_size=1, max_size=5))
    def test_count_substring_non_negative_consistent(self, hay, needle):
        n = RS.count_substring(hay, needle)
        # replace-based counting == Python's non-overlapping str.count
        assert n == hay.count(needle)


class TestAdmissionSoundness:
    """Every URL admitted by the F8 chain satisfies the gate predicates —
    the frontier can never contain a URL any stage should have rejected."""

    _html = st.builds(
        lambda hrefs: "<html><body>"
        + "".join(f'<a href="{h}">x</a>' for h in hrefs)
        + "</body></html>",
        st.lists(
            st.text(
                alphabet=string.ascii_letters + string.digits + ":/.-_?=#&",
                max_size=60,
            ),
            max_size=8,
        ),
    )

    @SETTINGS
    @given(_html, _hostish)
    def test_admitted_urls_pass_gates(self, html, host):
        base = f"http://{host}"
        for u in RX.search_href_results(html, base):
            assert len(u) <= 80
            assert u.startswith("http")
            assert is_not_image_script_css_ext(u)
            assert not_social_network(u)
            assert not is_end_with_digits(u)
            assert RS.count_substring(u, "://") == 1
            assert not u.endswith("//")
            assert "mailto" not in u[:7]

    @SETTINGS
    @given(_html)
    def test_mailto_results_normalized(self, html):
        for e in RX.search_mailto_results(html):
            assert e == e.lower()
            assert not e.startswith("mailto:")


class TestDriverRegistryContract:
    """The round driver records at most the FIRST 50 rows of queries()
    (observed empirically: round 2 registered 67 and exactly the first 50
    appeared in CORRECTNESS_r02.json). These guards keep the whole
    registry inside the record and keep every row oracle-checked."""

    def test_registry_fits_driver_record(self):
        import __spark_entry__ as entry

        qs = entry.queries()
        assert len(qs) <= 50, (
            f"{len(qs)} queries() keys — the driver records only the "
            "first 50; fold rows (see COVERAGE.md fold map)"
        )

    def test_every_query_has_an_oracle_twin(self):
        import __spark_entry__ as entry

        qs, oracles = entry.queries(), entry.oracle_sql()
        assert [k for k in qs if k not in oracles] == []
        assert [k for k in oracles if k not in qs] == []

    def test_oracle_sql_byte_stable_across_processes(self, tmp_path):
        """oracle_sql() text is compared across runs, so the fixture dirs
        it names must not depend on the process: two fresh interpreters
        (different string-hash seeds, one shared tempdir) print the same
        text for every row, the second reusing the first's dirs."""
        import json
        import os
        import subprocess
        import sys

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        script = ("import json, __spark_entry__ as e; "
                  "print(json.dumps(e.oracle_sql(), sort_keys=True))")
        runs = []
        for seed in ("1", "2"):
            env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONHASHSEED=seed)
            out = subprocess.run([sys.executable, "-c", script], cwd=root,
                                 env=env, capture_output=True, text=True,
                                 check=True, timeout=300).stdout
            runs.append(json.loads(out))
        assert runs[0].keys() == runs[1].keys()
        assert [k for k in runs[0] if runs[0][k] != runs[1][k]] == []
        assert any(str(tmp_path) in sql for sql in runs[0].values())

    def test_fixture_dir_not_reused_when_files_changed(self, tmp_path, monkeypatch):
        """A content-keyed dir whose files no longer hash to its name
        (partly cleaned tmp) is not served; a fresh build is."""
        import os
        import tempfile

        from companycatalogcrawlerparser_spark import harness as H

        def build(d):
            for fn in ("a.bin", "b.bin"):
                with open(os.path.join(d, fn), "wb") as f:
                    f.write(fn.encode())

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        monkeypatch.setattr(H, "_memo", {})
        first = H._fixture_dir("probe", build)
        H._memo.clear()
        assert H._fixture_dir("probe", build) == first
        os.remove(os.path.join(first, "b.bin"))
        H._memo.clear()
        again = H._fixture_dir("probe", build)
        assert again != first
        assert sorted(os.listdir(again)) == ["a.bin", "b.bin"]


class TestSitemapProperties:
    _xml = st.builds(
        lambda locs: "<urlset>"
        + "".join(f"<url><loc>{u}</loc></url>" for u in locs)
        + "</urlset>",
        st.lists(st.text(alphabet=string.printable.replace("<", "").replace(">", ""), max_size=40), max_size=6),
    )

    @SETTINGS
    @given(_xml)
    def test_parsed_locs_http_and_trimmed(self, xml):
        for loc, _lm in RSM.parse_sitemap(xml):
            assert loc.startswith(("http://", "https://"))
            assert loc == loc.strip()


class TestWarcParserAgreement:
    """The engine WARC parser (sources/warc.py line-reader state machine)
    and the refsem oracle (offset scanner) are INDEPENDENT implementations
    of the same pinned subset; fuzz generated files through both. This
    agreement is what upgrades the warc_ingest hash row from a plumbing
    check to a semantic check (round-3 advice)."""

    _body = st.binary(max_size=60)
    _uri = st.one_of(
        st.none(),
        st.builds(lambda h, p: f"http://{h}/{p}", st.sampled_from(
            ["a.ru", "b.com", "c.org"]), st.text(
            alphabet=string.ascii_lowercase, max_size=8)),
    )
    _date = st.one_of(
        st.sampled_from([
            "2025-06-01T10:00:00Z", "2025-06-01T10:00:05.250000Z",
            "2025-12-31T23:59:59+02:00", "not-a-date", "",
        ]),
        st.text(alphabet=string.digits + "-:TZ.", max_size=24),
    )
    _record = st.builds(
        lambda typ, uri, date, body, http: (typ, uri, date, body, http),
        st.sampled_from(["response", "request", "warcinfo", "metadata"]),
        _uri, _date, _body, st.booleans(),
    )

    @staticmethod
    def _serialize(records, junk=b""):
        out = [junk]
        for typ, uri, date, body, http in records:
            block = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
                if http else body
            )
            head = [b"WARC/1.0", b"WARC-Type: " + typ.encode()]
            if uri is not None:
                head.append(b"WARC-Target-URI: " + uri.encode())
            head.append(b"WARC-Date: " + date.encode("utf-8", "ignore"))
            head.append(b"Content-Length: " + str(len(block)).encode())
            out.append(b"\r\n".join(head) + b"\r\n\r\n" + block + b"\r\n\r\n")
        return b"".join(out)

    @SETTINGS
    @given(st.lists(_record, max_size=6),
           st.sampled_from([b"", b"junk-prefix", b"\r\n\r\n"]))
    def test_engine_matches_oracle(self, records, junk):
        from companycatalogcrawlerparser_spark.refsem import warc as RW
        from companycatalogcrawlerparser_spark.sources.warc import (
            parse_warc_pages,
        )

        data = self._serialize(records, junk)
        assert parse_warc_pages(data) == RW.pages_from_warc(data)

    @staticmethod
    def _serialize_mixed(records, seps, junk=b""):
        """Serializer variant with PER-LINE header terminators drawn from
        {CRLF, bare LF} (r4 advice: the engine's readline split on bare LF
        vs the oracle's CRLF-only split diverged on mixed input; the
        engine now reads CRLF-logical lines, so a bare-LF 'line' is
        header-value data for BOTH parsers — this fuzz pins it). The
        block terminator stays CRLFCRLF where the last sep is CRLF;
        a bare-LF final sep yields LF+CRLF, exercising the
        blank-line-detection edge."""
        out = [junk]
        si = 0
        for typ, uri, date, body, http in records:
            block = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
                if http else body
            )
            head = [b"WARC/1.0", b"WARC-Type: " + typ.encode()]
            if uri is not None:
                head.append(b"WARC-Target-URI: " + uri.encode())
            head.append(b"WARC-Date: " + date.encode("utf-8", "ignore"))
            head.append(b"Content-Length: " + str(len(block)).encode())
            buf = b""
            for h in head:
                buf += h + seps[si % len(seps)]
                si += 1
            out.append(buf + b"\r\n" + block + b"\r\n\r\n")
        return b"".join(out)

    @SETTINGS
    @given(
        st.lists(_record, max_size=5),
        st.lists(st.sampled_from([b"\r\n", b"\n"]), min_size=1, max_size=7),
        st.sampled_from([b"", b"junk\nwith bare lf\r\n", b"xx\nWARC/0.9 j\n"]),
    )
    def test_engine_matches_oracle_mixed_line_endings(self, records, seps, junk):
        from companycatalogcrawlerparser_spark.refsem import warc as RW
        from companycatalogcrawlerparser_spark.sources.warc import (
            parse_warc_pages,
        )

        data = self._serialize_mixed(records, seps, junk)
        assert parse_warc_pages(data) == RW.pages_from_warc(data)

    @SETTINGS
    @given(st.lists(_record, min_size=1, max_size=4))
    def test_engine_matches_oracle_gzip_members(self, records):
        """CC layout: one gzip member per record, concatenated."""
        import gzip

        from companycatalogcrawlerparser_spark.refsem import warc as RW
        from companycatalogcrawlerparser_spark.sources.warc import (
            parse_warc_pages,
        )

        data = b"".join(
            gzip.compress(self._serialize([r])) for r in records
        )
        assert parse_warc_pages(data) == RW.pages_from_warc(data)


class TestLastmodPartialDates:
    """W3C-datetime lastmod parsing (refsem.sitemap.parse_lastmod, the
    twin of operators.sitemap.lastmod_ts): partial dates complete to the
    first instant of their period; offsets normalize to UTC; junk is None."""

    @SETTINGS
    @given(st.integers(2000, 2099), st.integers(1, 12), st.integers(1, 28))
    def test_partial_prefixes_nest(self, y, m, d):
        full = RSM.parse_lastmod(f"{y:04d}-{m:02d}-{d:02d}")
        month = RSM.parse_lastmod(f"{y:04d}-{m:02d}")
        year = RSM.parse_lastmod(f"{y:04d}")
        assert year.month == 1 and year.day == 1
        assert month.year == y and month.day == 1
        assert year <= month <= full

    @SETTINGS
    @given(st.integers(2000, 2099), st.integers(1, 12), st.integers(1, 28),
           st.integers(0, 23), st.integers(0, 59), st.sampled_from(
               ["Z", "+00:00", "+02:00", "-05:30"]))
    def test_offsets_normalize_to_utc(self, y, m, d, hh, mm, tz):
        import datetime as dt

        got = RSM.parse_lastmod(f"{y:04d}-{m:02d}-{d:02d}T{hh:02d}:{mm:02d}:00{tz}")
        offs = {"Z": 0, "+00:00": 0, "+02:00": 120, "-05:30": -330}[tz]
        want = dt.datetime(y, m, d, hh, mm) - dt.timedelta(minutes=offs)
        assert got == want

    def test_junk_is_none(self):
        for junk in ("", "yesterday", "2025-13", "20250601", "2025-06-31"):
            assert RSM.parse_lastmod(junk) is None


class TestWarcRangeOffsets:
    """_record_offsets (the ranged reader's pass-1 boundary scan) must
    return exactly the serialization's true record-start offsets, and a
    parse of the per-record ranges must equal the whole-file parse."""

    @SETTINGS
    @given(st.lists(TestWarcParserAgreement._record, min_size=1, max_size=5),
           st.sampled_from([b"", b"junk-prefix\r\n"]))
    def test_offsets_exact_and_ranges_cover(self, records, junk):
        import io

        from companycatalogcrawlerparser_spark.sources.warc import (
            _record_offsets, parse_warc_pages,
        )

        # expected offsets from the serializer's own accounting
        expected, chunks, pos = [], [junk], len(junk)
        for r in records:
            blob = TestWarcParserAgreement._serialize([r])
            expected.append(pos)
            chunks.append(blob)
            pos += len(blob)
        data = b"".join(chunks)
        got = _record_offsets(io.BufferedReader(io.BytesIO(data)))
        assert got == expected

        # per-record ranges parse to the same pages as the whole file
        bounds = got + [len(data)]
        ranged = []
        for i in range(len(got)):
            ranged += parse_warc_pages(data[bounds[i]:bounds[i + 1]])
        assert ranged == parse_warc_pages(data)


class TestCdxMemberWalk:
    """build_cdx_lines walks gzip member boundaries: indexed slices are
    real members, never overlap, and their parses union to the
    whole-segment parse."""

    @SETTINGS
    @given(st.lists(
        TestWarcParserAgreement._record.filter(
            lambda r: r[0] == "response" and r[1] is not None
        ),
        min_size=1, max_size=4,
    ))
    def test_indexed_slices_parse_equal(self, records):
        import gzip
        import json

        from companycatalogcrawlerparser_spark.sources.warc import (
            build_cdx_lines, parse_warc_pages,
        )

        members = [
            gzip.compress(TestWarcParserAgreement._serialize([r]))
            for r in records
        ]
        data = b"".join(members)
        metas = [
            json.loads(l.split(" ", 2)[2])
            for l in build_cdx_lines(data, "seg.warc.gz")
        ]
        slices = sorted({(int(m["offset"]), int(m["length"])) for m in metas})
        # the index covers exactly the PAGE-yielding members (an
        # invalid-date record parses to nothing and gets no index line,
        # like CC's response-only index); slices never overlap and each
        # starts at a gzip magic
        for (o1, l1), (o2, _l2) in zip(slices, slices[1:]):
            assert o1 + l1 <= o2
        ranged = []
        for off, ln in slices:
            assert data[off:off + 2] == b"\x1f\x8b"
            ranged += parse_warc_pages(data[off:off + ln])
        assert sorted(ranged) == sorted(parse_warc_pages(data))
        assert sorted(m["url"] for m in metas) == sorted(
            p[0] for p in parse_warc_pages(data)
        )

    @SETTINGS
    @given(st.lists(st.binary(max_size=40), min_size=1, max_size=4))
    def test_all_valid_members_tile_exactly(self, bodies):
        # every member yields a page -> slices tile contiguously 0..EOF
        import gzip
        import json

        from companycatalogcrawlerparser_spark.sources.warc import (
            build_cdx_lines,
        )

        members = [
            gzip.compress(TestWarcParserAgreement._serialize(
                [("response", "http://a.ru/p%d" % i,
                  "2025-06-01T10:00:00Z", body, True)]
            ))
            for i, body in enumerate(bodies)
        ]
        data = b"".join(members)
        metas = [
            json.loads(l.split(" ", 2)[2])
            for l in build_cdx_lines(data, "s.warc.gz")
        ]
        slices = sorted({(int(m["offset"]), int(m["length"])) for m in metas})
        assert slices[0][0] == 0
        for (o1, l1), (o2, _l2) in zip(slices, slices[1:]):
            assert o1 + l1 == o2
        assert slices[-1][0] + slices[-1][1] == len(data)
        assert len(slices) == len(bodies)

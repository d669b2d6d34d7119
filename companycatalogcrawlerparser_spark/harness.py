"""Crawl-surface harness — puts the crawl/extraction operators under the
round driver's hard CORRECTNESS signal (VERDICT r01 "Next round" #2).

The driver compares each ``queries()`` entry (Spark) against its
``oracle_sql()`` twin (DuckDB) by row count + columns + value hash. The
TPC-H-shaped testdata can't exercise the crawl surface (S1/S2, F8/F11,
C1-C9, K5/K6 product path, H1-H10, X9-X11), so this module materializes:

- ENGINE side: one memoized ``run_crawl`` over the deterministic webgen
  corpus (N_COMPANIES), plus the extraction operators run over fixture
  pages — returned as live DataFrames from ``queries()`` entries;
- ORACLE side: the pure-Python refsem transcriptions (an independent
  implementation of the reference semantics) written once per process as
  parquet files that the DuckDB twin reads via ``read_parquet()``.

Hash equality between the two sides IS the crawl-surface correctness gate:
trace ordering (C1/C2), URL-seen membership (J2), email pairs (C9/F10),
flags (K6/C8), K5 ids, F8 admission decisions, H1-H10 extractions, X9-X11.

Trace normalization: both sides emit ``ord`` = rank of the fetch within
(company, priority) — the pinned semantics is ordering, not raw document
seq values (admission.py docstring).
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions.canon import base_url as base_url_expr
from .functions.canon import sniff_encoding
from .functions import admission as admission_mod
from .functions.predicates import is_contacts_page as is_contacts_page_col
from .operators import extract as X
from .plans import catalog as CAT
from .plans.crawl import CrawlConfig, run_crawl
from .refsem import crawler as OC
from .refsem import extract as RX
from .refsem import htmlparse as RH
from .refsem import strings as RS
from .refsem.predicates import finalize_emails, is_contacts_page
from .sources import webgen

N_COMPANIES = 100

# city-seed synthesis shared inputs (both sides)
SEED_CITY_DIM = [
    ("Екатеринбург", "66"), ("Казань", "16"), ("Омск", "55"),
    ("Header", "00"), ("Пермь", "59"),
]
SEED_REACHABLE = ["https://ekaterinburg.jsprav.ru/", "https://kazan.jsprav.ru/"]

_memo: dict = {}


def corpus():
    if "corpus" not in _memo:
        _memo["corpus"] = webgen.build_corpus_local(N_COMPANIES)
    return _memo["corpus"]


def _content_pages():
    """(url, html_str) for every corpus row that carries html."""
    pages_rows, _ = corpus()
    return [(p["url"], p["html"].decode("utf-8")) for p in pages_rows if p["html"]]


# ---------------------------------------------------------------------------
# oracle side — pure Python, written as parquet for DuckDB


def _norm_trace(entries):
    """(cid, prio, seq, url, action) → rows with ord = rank within
    (cid, prio) by seq."""
    by_key: dict = {}
    for cid, prio, seq, url, action in entries:
        by_key.setdefault((cid, prio), []).append((seq, url, action))
    rows = []
    for (cid, prio), v in by_key.items():
        for ord_, (_, url, action) in enumerate(sorted(v, key=lambda t: t[0])):
            rows.append((cid, prio, ord_, url, action))
    return rows


def _oracle_crawl():
    if "oracle_crawl" not in _memo:
        pages_rows, seeds_rows = corpus()
        cor = {
            p["url"]: OC.PageRec(
                html=p["html"].decode("utf-8") if p["html"] else None,
                status=p["status"],
                location=p["redirect_to"],
            )
            for p in pages_rows
        }
        _memo["oracle_crawl"] = OC.crawl(cor, seeds_rows)
    return _memo["oracle_crawl"]


def _write(dirpath: str, name: str, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"))


def _tree_digest(d: str) -> str:
    """sha256 (16 hex) over every file's relative path and bytes under ``d``."""
    digest = hashlib.sha256()
    for root, dirs, files in os.walk(d):
        dirs.sort()
        for fn in sorted(files):
            path = os.path.join(root, fn)
            digest.update(os.path.relpath(path, d).encode() + b"\0")
            with open(path, "rb") as f:
                digest.update(f.read())
    return digest.hexdigest()[:16]


def _fixture_dir(name: str, build) -> str:
    """Directory holding the files ``build(d)`` writes into ``d``.

    The path is ``<tempdir>/<name>-<digest of the files>``, so the
    ``oracle_sql()`` text that names it is the same in every process that
    builds the same bytes. ``build`` runs in a private temp dir that is
    then renamed into place in one step. A target that exists already is
    reused only if this user owns it and its files still hash to the
    digest; otherwise (partly cleaned, or someone else's) the private
    build is served instead. Memoized per process."""
    if name in _memo:
        return _memo[name]
    tmp = tempfile.mkdtemp(prefix=f"{name}-build-")
    build(tmp)
    digest = _tree_digest(tmp)
    d = os.path.join(tempfile.gettempdir(), f"{name}-{digest}")
    try:
        os.rename(tmp, d)
    except OSError:
        if not os.path.isdir(d):
            raise
        if os.stat(d).st_uid == os.getuid() and _tree_digest(d) == digest:
            shutil.rmtree(tmp)
        else:
            d = tmp
    _memo[name] = d
    return d


def _build_oracle(d: str) -> None:
    res = _oracle_crawl()

    rows = _norm_trace(res.trace)
    _write(d, "trace", {
        "company_id": [r[0] for r in rows],
        "priority": [r[1] for r in rows],
        "ord": [r[2] for r in rows],
        "url": [r[3] for r in rows],
        "action": [r[4] for r in rows],
    })

    seen = [("G", RS.canonicalize_url(u)) for u in sorted(res.seen_seeds)]
    for cid in sorted(res.seen_extractor):
        seen += [(str(cid), RS.canonicalize_url(u)) for u in sorted(res.seen_extractor[cid])]
    _write(d, "url_seen", {
        "scope": [s for s, _ in seen],
        "canonical_url": [u for _, u in seen],
    })

    pairs = finalize_emails(res.email_bag)
    _write(d, "email_pairs", {
        "company_id": [c for c, _ in pairs],
        "email": [e for _, e in pairs],
    })

    fl = sorted(res.flags.items())
    _write(d, "flags", {
        "company_id": [c for c, _ in fl],
        "bad_url": [v[0] for _, v in fl],
        "email_processed": [v[1] for _, v in fl],
        "email_finded": [v[2] for _, v in fl],
    })

    # F8 admission + X10/X11 + H10 per content page
    adm, mailto, regexe, anchors = [], [], [], []
    for url, html in _content_pages():
        base = RS.get_base_url(url)
        for i, u in enumerate(RX.search_href_results(html, base)):
            adm.append((url, i, u, is_contacts_page(u)))
        for i, e in enumerate(RX.search_mailto_results(html)):
            mailto.append((url, i, e))
        for i, e in enumerate(RX.extract_emails_regex(html)):
            regexe.append((url, i, e))
        for i, u in enumerate(RX.contact_anchor_links(html, base)):
            anchors.append((url, i, u))
    _write(d, "admission", {
        "page_url": [r[0] for r in adm], "ord": [r[1] for r in adm],
        "url": [r[2] for r in adm], "is_contact": [r[3] for r in adm],
    })
    _write(d, "mailto", {
        "page_url": [r[0] for r in mailto], "ord": [r[1] for r in mailto],
        "email": [r[2] for r in mailto],
    })
    _write(d, "regex_emails", {
        "page_url": [r[0] for r in regexe], "ord": [r[1] for r in regexe],
        "email": [r[2] for r in regexe],
    })
    _write(d, "anchors", {
        "page_url": [r[0] for r in anchors], "ord": [r[1] for r in anchors],
        "url": [r[2] for r in anchors],
    })

    # X9 encoding probes
    enc = [(u, RS.get_encoding(h)) for u, h in webgen.encoding_probe_pages()]
    _write(d, "encoding", {
        "page_url": [u for u, _ in enc], "encoding": [e for _, e in enc],
    })

    # H1/H2/H3 category trees + H4/H5/H6 companies over fixture pages
    cats, comps = [], []
    for layout, cat_html, comp_html in _layout_fixtures():
        doc = RH.parse_html(cat_html)
        if layout == "bizly":
            recs = RH.get_div_row(doc)
        elif layout == "jsprav":
            recs = RH.get_nov_category_links(doc, "", "77", fetch=None)
        else:
            recs = RH.get_category_links(doc, "", "77", fetch=None)
        cats += [(layout, *r) for r in recs]
        cdoc = RH.parse_html(comp_html)
        if layout == "bizly":
            crecs = RH.get_div_company(cdoc, 7)
        elif layout == "spravker":
            crecs = RH.get_div_companies(cdoc, 7)
        else:
            crecs = RH.get_nov_div_companies(cdoc, 7)
        comps += [(layout, *r) for r in crecs]
    _write(d, "categories", {
        "layout": [r[0] for r in cats], "category_id": [r[1] for r in cats],
        "name": [r[2] for r in cats], "parent_id": [r[3] for r in cats],
        "href": [r[4] for r in cats], "city_code": [r[5] for r in cats],
    })
    _write(d, "companies", {
        "layout": [r[0] for r in comps], "company_seq": [r[1] for r in comps],
        "category_id": [r[2] for r in comps], "name": [r[3] for r in comps],
        "address": [r[4] for r in comps], "phone": [r[5] for r in comps],
        "timework": [r[6] for r in comps], "site_url": [r[7] for r in comps],
    })

    # H7 cities + U2/J6 seed synthesis
    cities = RH.get_cities(RH.parse_html(webgen.statdata_cities_page()))
    _write(d, "h7_cities", {
        "seq": list(range(len(cities))),
        "name": [r[0] for r in cities],
        "subordination": [r[1] for r in cities],
        "code": [r[2] for r in cities],
        "region": [r[3] for r in cities],
    })
    six = [r for r in cities if r[2] == "6"]
    sliced = six[1 : len(six) - 1]
    dim = dict(SEED_CITY_DIM)
    reach = set(SEED_REACHABLE)
    seeds = list(CAT.CITY_SEEDS_STATIC)
    for name, *_ in sliced:
        url = f"https://{RS.translit_cyrillic_to_latin(name)}.jsprav.ru/".lower()
        if name in dim and url in reach:
            seeds.append((url, dim[name]))
    _write(d, "seed_synth", {
        "url": [u for u, _ in seeds], "city_code": [c for _, c in seeds],
    })

    # H8 pagination maxima
    pg = []
    for k in (3, 4, 7):
        html = webgen.bizly_company_page(page=1, total_pages=k)
        pg.append((f"http://bizly.test/cat{k}/", RH.get_page_number(RH.parse_html(html), "div")))
    _write(d, "pagenum", {
        "page_url": [u for u, _ in pg], "page_count": [n for _, n in pg],
    })

    # main-content extraction twin (refsem.content, pure stdlib)
    import hashlib as _hl

    from .refsem import content as RCNT

    mt, md = [], []
    for u, h in dict(_content_pages()).items():
        text, n_blocks, n_kept = RCNT.main_content(h)
        mt.append(
            (u, f"{n_kept}|{n_blocks}|"
                f"{_hl.md5(text.encode('utf-8')).hexdigest()}")
        )
        md.append(
            (u, _hl.md5(RCNT.to_markdown(h).encode("utf-8")).hexdigest())
        )
    _write(d, "maintext", {
        "page_url": [u for u, _ in mt], "value": [v for _, v in mt],
    })
    _write(d, "markdown", {
        "page_url": [u for u, _ in md], "value": [v for _, v in md],
    })
    _write_nested_categories(d)
    _write_robots_gate(d)
    _write_warc_ingest(d)
    _write_sitemap_ingest(d)
    _write_recrawl_select(d)


def oracle_dir() -> str:
    """Generate (once per process) every oracle parquet; returns the dir."""
    return _fixture_dir("ccp_crawl_oracle", _build_oracle)


def _layout_fixtures():
    return [
        ("bizly", webgen.bizly_catalog_page(), webgen.bizly_company_page()),
        ("jsprav", webgen.jsprav_catalog_page(), webgen.jsprav_company_page()),
        ("spravker", webgen.spravker_catalog_page(), webgen.spravker_company_page()),
    ]


# ---------------------------------------------------------------------------
# engine side — live DataFrames


def _engine_crawl(spark) -> dict:
    if "engine_crawl" not in _memo:
        pages_rows, seeds_rows = corpus()
        pages = spark.createDataFrame(pages_rows, schema=webgen.PAGES_SCHEMA)
        seeds = spark.createDataFrame(seeds_rows, schema=webgen.SEEDS_SCHEMA)
        out = tempfile.mkdtemp(prefix="ccp_crawl_engine_")
        res = run_crawl(
            spark, pages, seeds, out,
            CrawlConfig(num_partitions=8, n_buckets=16),
        )
        _memo["engine_crawl"] = res
    return _memo["engine_crawl"]


def _engine_tokens(spark) -> DataFrame:
    """The crawl's extractor (``extract_tokens_native``) over every corpus
    content page, base_url attached."""
    if "engine_tokens" not in _memo:
        rows = [
            (0, url, bytearray(html.encode("utf-8")))
            for url, html in _content_pages()
        ]
        df = spark.createDataFrame(rows, "company_id long, page_url string, html binary")
        tokens = X.extract_tokens_native(df).withColumn(
            "base_url", base_url_expr(F.col("page_url"))
        )
        _memo["engine_tokens"] = tokens.localCheckpoint(eager=False)
    return _memo["engine_tokens"]


def _ord_by_seq(df: DataFrame, part_cols, keep_cols) -> DataFrame:
    w = Window.partitionBy(*part_cols).orderBy("seq")
    return df.withColumn("ord", (F.row_number().over(w) - 1).cast("long")).select(
        *part_cols, "ord", *keep_cols
    )


def q_crawl_trace(spark, sf_dir) -> DataFrame:
    res = _engine_crawl(spark)
    t = res["trace"].select(
        "company_id", F.col("priority").cast("long").alias("priority"),
        "seq", "url", "action",
    )
    return _ord_by_seq(t, ["company_id", "priority"], ["url", "action"])


def q_crawl_url_seen(spark, sf_dir) -> DataFrame:
    res = _engine_crawl(spark)
    return res["url_seen"].select("scope", "canonical_url").distinct()


def q_crawl_email_pairs(spark, sf_dir) -> DataFrame:
    res = _engine_crawl(spark)
    return res["email_pairs"].select("company_id", "email")


def q_crawl_flags(spark, sf_dir) -> DataFrame:
    res = _engine_crawl(spark)
    return res["flags"].select(
        "company_id", "bad_url", "email_processed", "email_finded"
    )


def q_crawl_email_upsert(spark, sf_dir) -> DataFrame:
    """K5 both surfaces in one row: the dense-id email dimension joined to
    the M:N junction — verifies id assignment AND link maintenance."""
    res = _engine_crawl(spark)
    dim = res["emails"].select("email_id", "email", "bad_ignore_email")
    junction = res["company_email"].select("company_id", "email_id")
    return junction.join(dim, "email_id").select(
        "company_id", "email_id", "email", "bad_ignore_email"
    )


def q_f8_admission(spark, sf_dir) -> DataFrame:
    admitted = X.inline_list(
        admission_mod.admit_frontier(_engine_tokens(spark)), "admitted", "url"
    )
    return _ord_by_seq(
        admitted.select(
            "page_url", "seq", "url",
            is_contacts_page_col(F.col("url")).alias("is_contact"),
        ),
        ["page_url"], ["url", "is_contact"],
    )


def q_crawl_extract_emails(spark, sf_dir) -> DataFrame:
    """X11 (mailto extraction) + X10 (email regex) in one labeled row —
    ``ord`` stays per (kind, page_url), exactly each operator's own order."""
    tokens = _engine_tokens(spark)
    mailto = _ord_by_seq(
        X.mailto_emails(tokens).select("page_url", "seq", "email"),
        ["page_url"], ["email"],
    ).select(F.lit("mailto").alias("kind"), "page_url", "ord", "email")
    regexe = _ord_by_seq(
        X.regex_emails(tokens).select("page_url", "seq", "email"),
        ["page_url"], ["email"],
    ).select(F.lit("regex").alias("kind"), "page_url", "ord", "email")
    return mailto.unionByName(regexe)


def q_h10_anchors(spark, sf_dir) -> DataFrame:
    df = X.contact_anchor_links(_engine_tokens(spark))
    return _ord_by_seq(df.select("page_url", "seq", "url"), ["page_url"], ["url"])


def q_x9_h8_probe(spark, sf_dir) -> DataFrame:
    """X9 (charset sniff) + H8 (pagination max) in one labeled row; the
    typed values are stringified for the shared column (hash still compares
    every value)."""
    rows = [(u, h) for u, h in webgen.encoding_probe_pages()]
    df = spark.createDataFrame(rows, "page_url string, html string")
    x9 = df.select(
        F.lit("x9").alias("kind"), "page_url",
        sniff_encoding(F.col("html")).alias("value"),
    )
    prows = [
        (f"http://bizly.test/cat{k}/",
         bytearray(webgen.bizly_company_page(page=1, total_pages=k).encode()))
        for k in (3, 4, 7)
    ]
    pages = spark.createDataFrame(prows, "url string, html binary")
    h8 = CAT.extract_page_counts(pages).select(
        F.lit("h8").alias("kind"), "page_url",
        F.col("page_count").cast("string").alias("value"),
    )
    # kind='content' (r7-late): main-content extraction
    # (operators.content — jusText-family block density) over EVERY
    # html page of the webgen corpus, vs the independent pure-Python
    # twin (refsem.content). value = kept|blocks|md5(main_text), so the
    # segmentation count, the keep decisions AND the exact reassembled
    # bytes all sit under the hash.
    from .operators import content as CNT

    cp = list(dict(_content_pages()).items())
    cdf = spark.createDataFrame(cp, "page_url string, html string")
    content = CNT.main_content(cdf).select(
        F.lit("content").alias("kind"),
        "page_url",
        F.concat_ws(
            "|",
            F.col("n_kept").cast("string"),
            F.col("n_blocks").cast("string"),
            F.md5("main_text"),
        ).alias("value"),
    )
    # kind='md' (r7-late): html→markdown (operators.content.to_markdown
    # vs the stdlib twin) over the same pages — exact output bytes
    md = cdf.select(
        F.lit("md").alias("kind"),
        "page_url",
        F.md5(CNT.to_markdown(F.col("html"))).alias("value"),
    )
    return x9.unionByName(h8).unionByName(content).unionByName(md)


def q_h_categories(spark, sf_dir) -> DataFrame:
    """H1/H2/H3 flat extraction over the three layouts PLUS the H2/H3
    nested (show_all / subcats) two-round loads — nested rows carry a
    ``<layout>_nested`` label."""
    parts = []
    for layout, cat_html, _ in _layout_fixtures():
        pages = spark.createDataFrame(
            [(f"http://{layout}.test/", bytearray(cat_html.encode()))],
            "url string, html binary",
        )
        parts.append(
            CAT.extract_categories(pages, layout).select(
                F.lit(layout).alias("layout"), "category_id", "name",
                "parent_id", "href", "city_code",
            )
        )
    for layout in ("jsprav", "spravker"):
        base, cat, subs = _nested_fixture(layout)
        rows = [(f"{base}/", bytearray(cat.encode()))] + [
            (u, bytearray(h.encode())) for u, h in subs.items()
        ]
        corpus_df = spark.createDataFrame(rows, "url string, html binary")
        page1 = spark.createDataFrame(
            [(f"{base}/", bytearray(cat.encode()))], "url string, html binary"
        )
        parts.append(
            CAT.extract_categories_nested(page1, corpus_df, layout, base_url=base).select(
                F.lit(f"{layout}_nested").alias("layout"), "category_id",
                "name", "parent_id", "href", "city_code",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_h_companies(spark, sf_dir) -> DataFrame:
    parts = []
    for layout, _, comp_html in _layout_fixtures():
        pages = spark.createDataFrame(
            [(f"http://{layout}.test/", bytearray(comp_html.encode()), 7)],
            "url string, html binary, category_id long",
        )
        parts.append(
            CAT.extract_companies(pages, layout).select(
                F.lit(layout).alias("layout"), "company_seq", "category_id",
                "name", "address", "phone", "timework", "site_url",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_h7_cities(spark, sf_dir) -> DataFrame:
    pages = spark.createDataFrame(
        [("http://statdata.test/", bytearray(webgen.statdata_cities_page().encode()))],
        "url string, html binary",
    )
    return CAT.extract_cities(pages).select(
        F.col("seq").cast("long").alias("seq"), "name", "subordination",
        "code", "region",
    )


def q_seed_synth(spark, sf_dir) -> DataFrame:
    pages = spark.createDataFrame(
        [("http://statdata.test/", bytearray(webgen.statdata_cities_page().encode()))],
        "url string, html binary",
    )
    cities = CAT.extract_cities(pages)
    dim = spark.createDataFrame(SEED_CITY_DIM, "name string, code string")
    reach = spark.createDataFrame([(u,) for u in SEED_REACHABLE], "url string")
    return CAT.synthesize_city_seeds(cities, dim, reach)


CRAWL_QUERIES = {
    "crawl_trace": q_crawl_trace,
    "crawl_url_seen": q_crawl_url_seen,
    "crawl_email_pairs": q_crawl_email_pairs,
    "crawl_flags": q_crawl_flags,
    "crawl_email_upsert": q_crawl_email_upsert,
    "f8_admission": q_f8_admission,
    "crawl_extract_emails": q_crawl_extract_emails,
    "h10_anchors": q_h10_anchors,
    "x9_h8_probe": q_x9_h8_probe,
    "h_categories": q_h_categories,
    "h_companies": q_h_companies,
    "h7_cities": q_h7_cities,
    "seed_synth": q_seed_synth,
}


def crawl_oracle_sql() -> dict:
    """DuckDB twins: read the pure-Python oracle's parquet. The only
    computed twin is the K5 id assignment — DuckDB derives the SAME
    alphabetical dense ids from the oracle email texts, so id assignment is
    verified, not copied."""
    d = oracle_dir()

    def rp(name: str) -> str:
        return f"read_parquet('{os.path.join(d, name + '.parquet')}')"

    return {
        "crawl_trace": f"SELECT company_id, priority, ord, url, action FROM {rp('trace')}",
        "crawl_url_seen": f"SELECT scope, canonical_url FROM {rp('url_seen')}",
        "crawl_email_pairs": f"SELECT company_id, email FROM {rp('email_pairs')}",
        "crawl_flags": f"SELECT company_id, bad_url, email_processed, email_finded FROM {rp('flags')}",
        "crawl_email_upsert": f"""
WITH ids AS (
  SELECT row_number() OVER (ORDER BY email) AS email_id, email
  FROM (SELECT DISTINCT email FROM {rp('email_pairs')}))
SELECT DISTINCT p.company_id, i.email_id, i.email, false AS bad_ignore_email
FROM {rp('email_pairs')} p JOIN ids i USING (email)
""",
        "f8_admission": f"SELECT page_url, ord, url, is_contact FROM {rp('admission')}",
        "crawl_extract_emails": f"""
SELECT 'mailto' AS kind, page_url, ord, email FROM {rp('mailto')}
UNION ALL
SELECT 'regex' AS kind, page_url, ord, email FROM {rp('regex_emails')}
""",
        "h10_anchors": f"SELECT page_url, ord, url FROM {rp('anchors')}",
        "x9_h8_probe": f"""
SELECT 'x9' AS kind, page_url, encoding AS value FROM {rp('encoding')}
UNION ALL
SELECT 'h8' AS kind, page_url, CAST(page_count AS VARCHAR) AS value FROM {rp('pagenum')}
UNION ALL
SELECT 'content' AS kind, page_url, value FROM {rp('maintext')}
UNION ALL
SELECT 'md' AS kind, page_url, value FROM {rp('markdown')}
""",
        "h_categories": f"""
SELECT layout, category_id, name, parent_id, href, city_code FROM {rp('categories')}
UNION ALL
SELECT layout || '_nested' AS layout, category_id, name, parent_id, href, city_code
FROM {rp('categories_nested')}
""",
        "h_companies": f"SELECT layout, company_seq, category_id, name, address, phone, timework, site_url FROM {rp('companies')}",
        "h7_cities": f"SELECT seq, name, subordination, code, region FROM {rp('h7_cities')}",
        "seed_synth": f"SELECT url, city_code FROM {rp('seed_synth')}",
    }


# ---------------------------------------------------------------------------
# ANN-LSH recall oracle (VERDICT r01 #7): deterministic INTEGER-valued
# vectors make every dot product / norm exact in float64, so the Spark
# pipeline and the independent pure-Python recomputation produce identical
# scores bit-for-bit; DuckDB joins the oracle's brute-force and LSH top-k
# parquets to verify the recall computation — ann_lsh gets a real
# CORRECTNESS row instead of rows-only.

# 5 planes: every query's recall@5 ≥ 0.6 on the clustered vector set
ANN_N, ANN_DIM, ANN_PLANES, ANN_K, ANN_NQ = 400, 16, 5, 5, 20
# IVF coarse quantizer: 12 pivot cells, 3-cell probe (cluster siblings
# share their query's cell, so recall stays meaningful at nprobe=3)
ANN_CELLS, ANN_NPROBE = 12, 3
# SemDeDup threshold: the fixture's within-cell cosine distribution has
# NO pair score in [0.90, 0.97] (cluster siblings land >= 0.97, the rest
# < 0.90), so 0.94 sits mid-gap — a 1-ulp float divergence between
# engines cannot flip any pair decision
SEMDUP_THRESHOLD = 0.94


def _ann_vec(i: int):
    """Clustered integer vectors: 4 near-duplicates per centroid (one
    coordinate nudged by +1), so each query's true neighbours are its
    cluster siblings — high cosine, same LSH bucket, meaningful recall.
    Random isotropic vectors would make single-probe recall ≈0.1 and the
    check vacuous."""
    import hashlib as _hl

    c = i // 4
    base = [
        float(int(_hl.md5(f"cent{c}|{d}".encode()).hexdigest()[:2], 16) % 7 - 3)
        for d in range(ANN_DIM)
    ]
    j = i % 4
    if j:
        base[(c + j) % ANN_DIM] += 1.0
    return base


def _ann_rows():
    if "ann_rows" not in _memo:
        _memo["ann_rows"] = [(i, _ann_vec(i)) for i in range(ANN_N)]
    return _memo["ann_rows"]


def _round6_half_up(x: float) -> float:
    import math

    s = -1.0 if x < 0 else 1.0
    return s * math.floor(abs(x) * 1e6 + 0.5) / 1e6


def _py_topk(kind: str):
    """Pure-Python brute / LSH / IVF top-k with the engine's exact
    semantics: float64 left-fold dots (exact here: integer-valued
    vectors), HALF_UP 1e-6 rounding, (score desc, neighbor_id)
    tie-break, self excluded. IVF candidacy mirrors
    ``similarity.cosine_topk_ivf``: pivots = the ANN_CELLS
    rows with smallest md5(id), cell = argmax cosine (round 1e-6, ties →
    higher index), query probes its ANN_NPROBE best cells."""
    import hashlib as _hl
    import math

    rows = _ann_rows()
    planes = [
        [
            1.0 if int(_hl.md5(f"plane{p}|dim{d}".encode()).hexdigest()[0], 16) >= 8 else -1.0
            for d in range(ANN_DIM)
        ]
        for p in range(ANN_PLANES)
    ]

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def sig(v):
        return "".join("1" if dot(v, pl) >= 0 else "0" for pl in planes)

    norms = {i: math.sqrt(dot(v, v)) for i, v in rows}
    sigs = {i: sig(v) for i, v in rows}

    cells, probes = {}, {}
    if kind == "ivf":
        pivots = [
            v for _i, v in sorted(
                rows, key=lambda r: (_hl.md5(str(r[0]).encode()).hexdigest(), r[0])
            )[:ANN_CELLS]
        ]
        pnorms = [math.sqrt(dot(p, p)) for p in pivots]

        def cell_scores(i, v):
            return [
                (_round6_half_up(dot(v, p) / (norms[i] * pn)), ci)
                for ci, (p, pn) in enumerate(zip(pivots, pnorms))
            ]

        for i, v in rows:
            cells[i] = max(cell_scores(i, v))[1]
        for i, v in rows[:ANN_NQ]:
            probes[i] = {
                ci for _s, ci in sorted(cell_scores(i, v), reverse=True)[:ANN_NPROBE]
            }

    out = []
    for qid, qv in rows[:ANN_NQ]:
        cands = []
        for nid, nv in rows:
            if nid == qid:
                continue
            if kind == "lsh" and sigs[nid] != sigs[qid]:
                continue
            if kind == "ivf" and cells[nid] not in probes[qid]:
                continue
            score = _round6_half_up(dot(qv, nv) / (norms[qid] * norms[nid]))
            cands.append((score, nid))
        cands.sort(key=lambda t: (-t[0], t[1]))
        for rank, (score, nid) in enumerate(cands[:ANN_K], start=1):
            out.append((qid, nid, rank))
    return out


def _py_semdedup():
    """Pure-Python SemDeDup twin with the engine's exact semantics
    (similarity.semantic_dedup): pivots = the ANN_CELLS rows with
    smallest md5(id); cell = argmax cosine to pivot (HALF_UP 1e-6,
    ties -> higher index); within-cell pairs with rounded cosine >=
    SEMDUP_THRESHOLD union-found into components labeled by min id;
    keep = the member with LOWEST centroid cosine (farthest from the
    quantizer centroid), ties -> lower id. All dots/norms are float64
    left-folds, matching the JVM expression order bit-for-bit."""
    import hashlib as _hl
    import math
    from collections import defaultdict

    rows = _ann_rows()
    vec = dict(rows)
    pivot_ids = sorted(
        (r[0] for r in rows),
        key=lambda i: (_hl.md5(str(i).encode()).hexdigest(), i),
    )[:ANN_CELLS]
    cents = [vec[i] for i in pivot_ids]

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def norm(a):
        acc = 0.0
        for x in a:
            acc += x * x
        return math.sqrt(acc)

    cnorm = [norm(c) for c in cents]
    assign = {}
    for i, v in rows:
        nv = norm(v)
        assign[i] = max(
            (_round6_half_up(dot(v, c) / (nv * nc)), ci)
            for ci, (c, nc) in enumerate(zip(cents, cnorm))
        )
    cells = defaultdict(list)
    for i, _ in rows:
        cells[assign[i][1]].append(i)
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in cells.values():
        members.sort()
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                a, b = members[ai], members[bi]
                s = _round6_half_up(
                    dot(vec[a], vec[b]) / (norm(vec[a]) * norm(vec[b]))
                )
                if s >= SEMDUP_THRESHOLD:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    groups = defaultdict(list)
    for i, _ in rows:
        groups[find(i)].append(i)
    out = []
    for mem in groups.values():
        label = min(mem)
        survivor = min(mem, key=lambda i: (assign[i][0], i))
        for i in mem:
            out.append(
                (i, assign[i][1], assign[i][0], label, i == survivor)
            )
    return sorted(out)


def _build_ann_oracle(d: str) -> None:
    for name, kind in (
        ("ann_brute", "brute"), ("ann_lsh", "lsh"), ("ann_ivf", "ivf"),
    ):
        rows = _py_topk(kind)
        _write(d, name, {
            "query_id": [r[0] for r in rows],
            "neighbor_id": [r[1] for r in rows],
            "rank": [r[2] for r in rows],
        })
    sd = _py_semdedup()
    _write(d, "ann_semdup", {
        "vec_id": [r[0] for r in sd],
        "cell": [r[1] for r in sd],
        "cent_cos": [r[2] for r in sd],
        "component": [r[3] for r in sd],
        "keep": [r[4] for r in sd],
    })


def ann_oracle_dir() -> str:
    return _fixture_dir("ccp_ann_oracle", _build_ann_oracle)


# --- BPE tokenizer fixture (corpus_curation kinds bpe_merge/word/doc) ------
# Like the ANN fixture: a deterministic sf-independent corpus both
# engines build identically, because greedy merge learning is genuinely
# not SQL-expressible — the twin is pure Python under the hash signal.
BPE_DOCS, BPE_VOCAB, BPE_NMERGES = 300, 120, 60


def _bpe_fixture_rows() -> list:
    """300 docs of 20-49 words over a 120-pseudo-word vocabulary built
    from a SHARED syllable pool (so merge candidates are contested
    across words), word choice md5-driven and quadratically skewed
    toward low indices (zipf-ish — high-frequency words dominate merge
    votes, like real text)."""
    import hashlib as _hl

    syll = ["ab", "ba", "ca", "da", "er", "in", "on", "re", "st", "th",
            "qu", "zo"]
    words = []
    for i in range(BPE_VOCAB):
        h = _hl.md5(f"w{i}".encode()).hexdigest()
        n = 2 + int(h[0], 16) % 3
        words.append(
            "".join(syll[int(h[1 + j], 16) % len(syll)] for j in range(n))
        )
    docs = []
    for d in range(BPE_DOCS):
        h = _hl.md5(f"d{d}".encode()).hexdigest()
        n = 20 + int(h[:2], 16) % 30
        toks = []
        for j in range(n):
            u = int(_hl.md5(f"t{d}-{j}".encode()).hexdigest()[:8], 16) / 16**8
            toks.append(words[min(int(u * u * len(words)), len(words) - 1)])
        docs.append((d, " ".join(toks)))
    return docs


def _md5_int15(s: str) -> int:
    import hashlib as _hl

    return int(_hl.md5(s.encode()).hexdigest()[:15], 16)


def _py_bpe() -> list:
    """Independent pure-Python BPE twin over the fixture corpus. Unlike
    the engine's learn_bpe (incremental pair-count maintenance), this
    RECOUNTS all pairs every round — a genuinely different algorithm
    whose agreement is evidence, not tautology. Emits (kind, doc_id,
    grp, val) rows: 'bpe_merge' (rank → pair + its count at merge
    time), 'bpe_word' (every distinct corpus word → subword count +
    md5-int of the space-joined tokenization), 'bpe_doc' (per doc:
    grp='n' subword total, grp='fp' md5-int of the full tokenized
    stream in document order)."""
    from collections import Counter

    docs = _bpe_fixture_rows()
    wc: Counter = Counter()
    for _d, text in docs:
        wc.update(w for w in text.split() if w)

    vocab = {tuple(w): f for w, f in wc.items()}
    merges = []
    for _ in range(BPE_NMERGES):
        pairs: Counter = Counter()
        for syms, f in vocab.items():
            for p in zip(syms, syms[1:]):
                pairs[p] += f
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((a, b, n))
        new = {}
        for syms, f in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        vocab = new

    ranks = {(a, b): i for i, (a, b, _n) in enumerate(merges)}

    def enc(word):
        s = list(word)
        while len(s) > 1:
            cand = [
                (ranks[(x, y)], (x, y))
                for x, y in zip(s, s[1:])
                if (x, y) in ranks
            ]
            if not cand:
                break
            _rk, pair = min(cand)
            out = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and (s[i], s[i + 1]) == pair:
                    out.append(s[i] + s[i + 1])
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return s

    rows = [
        ("bpe_merge", i, f"{a} {b}", n)
        for i, (a, b, n) in enumerate(merges)
    ]
    enc_cache = {w: enc(w) for w in sorted(wc)}
    for w, toks in enc_cache.items():
        rows.append(("bpe_word", len(toks), w, _md5_int15(" ".join(toks))))
    for d, text in docs:
        stream = [t for w in text.split() if w for t in enc_cache[w]]
        rows.append(("bpe_doc", d, "n", len(stream)))
        rows.append(("bpe_doc", d, "fp", _md5_int15(" ".join(stream))))
    return rows


def _build_bpe_oracle(d: str) -> None:
    rows = _py_bpe()
    _write(d, "bpe", {
        "kind": [r[0] for r in rows],
        "doc_id": [r[1] for r in rows],
        "grp": [r[2] for r in rows],
        "val": [r[3] for r in rows],
    })


def bpe_oracle_dir() -> str:
    return _fixture_dir("ccp_bpe_oracle", _build_bpe_oracle)


def _md5_int15_col(c) -> "F.Column":
    """Column twin of :func:`_md5_int15`: first 15 hex chars of the md5
    as a base-10 long (15 hex digits < 2^60, safely inside int64)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def q_bpe_rows(spark) -> DataFrame:
    """Engine half of the BPE fixture kinds, folded into the
    corpus_curation driver row (same (kind, doc_id, grp, val) shape):
    train the tokenizer with the distributed word-count + size-gated
    merge loop (operators.bpe), then emit

    - 'bpe_merge' — every learned merge in rank order (doc_id = rank,
      grp = "left right", val = pair frequency at merge time): pins the
      greedy selection ORDER and the contested-count arithmetic against
      the recount-from-scratch Python twin (_py_bpe);
    - 'bpe_word' — every distinct corpus word (grp) with its subword
      count (doc_id) and md5-int of the space-joined tokenization
      (val): pins greedy rank-order encoding per word;
    - 'bpe_doc' — per document, grp='n' the subword total and grp='fp'
      the md5-int of the full subword stream in document order: pins
      the tokenize-once occurrence join + positional reassembly of
      encode_corpus.
    """
    from .operators import bpe as B

    docs = spark.createDataFrame(
        _bpe_fixture_rows(), "doc_id long, text string"
    )
    wc = B.word_counts(docs)
    merges = B.learn_bpe(wc, num_merges=BPE_NMERGES, min_freq=2)
    merge_rows = spark.createDataFrame(
        [(i, f"{a} {b}", n) for i, (a, b, n) in enumerate(merges)],
        "doc_id long, grp string, val long",
    ).select(F.lit("bpe_merge").alias("kind"), "doc_id", "grp", "val")
    words = B.encode_words(wc.select("word"), merges).select(
        F.lit("bpe_word").alias("kind"),
        F.col("n_sub").cast("long").alias("doc_id"),
        F.col("word").alias("grp"),
        _md5_int15_col(F.array_join("bpe_tokens", " ")).alias("val"),
    )
    # two consumers (per-doc count + fingerprint rows) — persist the
    # fixture-sized encode frame so the occurrence join + positional
    # reassembly runs once in the first consuming job (r8)
    enc = B.encode_corpus(docs, merges).persist()
    doc_n = enc.select(
        F.lit("bpe_doc").alias("kind"),
        "doc_id",
        F.lit("n").alias("grp"),
        F.col("n_bpe_tokens").alias("val"),
    )
    # bpe_fp is already the md5 hex of the joined stream — reduce it the
    # same way the twin does (first 15 hex chars as an int)
    doc_fp = enc.select(
        F.lit("bpe_doc").alias("kind"),
        "doc_id",
        F.lit("fp").alias("grp"),
        F.conv(F.substring("bpe_fp", 1, 15), 16, 10)
        .cast("long")
        .alias("val"),
    )
    return (
        merge_rows.unionByName(words)
        .unionByName(doc_n)
        .unionByName(doc_fp)
    )


def bpe_oracle_union_sql() -> str:
    """UNION ALL fragment appended to the corpus_curation oracle: the
    pure-Python twin's rows, read back from parquet."""
    p = os.path.join(bpe_oracle_dir(), "bpe.parquet")
    return f"""
UNION ALL
SELECT kind, CAST(doc_id AS BIGINT) AS doc_id, grp,
       CAST(val AS BIGINT) AS val
FROM read_parquet('{p}')"""


def q_ann_lsh_recall(spark, sf_dir) -> DataFrame:
    """Labeled union: recall@K vs the brute-force truth for BOTH
    approximate paths — kind='lsh' (hyperplane buckets) and kind='ivf'
    (the deterministic pivot coarse quantizer, which the Python twin
    reproduces exactly)."""
    from .operators import similarity as SIM

    # NOT coalesced: unlike the sitemap fixtures this row is
    # compute-heavy (3×(400-vector scoring) + per-vector centroid
    # assignment) — coalesce(1) serialized it into one task and tripled
    # the row's wall time (measured); the default split spreads the
    # interpreted HOF work across cores
    df = spark.createDataFrame(
        _ann_rows(), "vec_id long, embedding array<float>"
    )
    q = df.filter(F.col("vec_id") < ANN_NQ)
    # persist the shared truth: the brute-force scoring plan feeds one
    # left-semi join PER approximate kind plus the query-id base — without
    # a cache the full 400-vector exact scoring re-evaluates once per use
    # (r4 verdict #3: this tripled the row's cost). The cached frame is
    # ANN_NQ×ANN_K rows — trivially memory-safe at any scale where k is.
    brute = SIM.cosine_topk_bruteforce(q, df, k=ANN_K).persist()
    # ONE pivot collect shared by both IVF kernels and SemDeDup (r8; was
    # one TakeOrdered+collect job per consumer — identical pivots by
    # construction, the quantizer is a deterministic md5 sample)
    cents = SIM.ivf_pivots(df, ANN_CELLS)
    approx = {
        "lsh": SIM.cosine_topk_lsh(
            q, df, k=ANN_K, num_planes=ANN_PLANES, dim=ANN_DIM
        ),
        "ivf": SIM.cosine_topk_ivf(
            q, df, k=ANN_K, n_cells=ANN_CELLS, nprobe=ANN_NPROBE,
            cents=cents,
        ),
        # r5 arrow kernel under the hard signal: hash-equality with the
        # SAME Python-twin top-k as kind='ivf' verifies the numpy-matmul
        # cell assignment end-to-end (see ann_lsh_oracle_sql note)
        "ivf_arrow": SIM.cosine_topk_ivf(
            q, df, k=ANN_K, n_cells=ANN_CELLS, nprobe=ANN_NPROBE,
            kernel="arrow", cents=cents,
        ),
    }
    base = brute.select("query_id").distinct()
    out = None
    for kind, res in approx.items():
        matches = brute.join(res, ["query_id", "neighbor_id"], "left_semi")
        n = matches.groupBy("query_id").agg(F.count("*").alias("n_match"))
        part = base.join(n, "query_id", "left").select(
            F.lit(kind).alias("kind"),
            "query_id",
            F.coalesce(F.col("n_match"), F.lit(0)).alias("n_match"),
            F.round(
                F.coalesce(F.col("n_match"), F.lit(0)) / F.lit(float(ANN_K)), 6
            ).alias("recall"),
        )
        out = part if out is None else out.unionByName(part)
    # r7: SemDeDup under the same hard signal — kind='semdup' carries
    # (vec_id, component, cent_cos) for every vector, kind='semdup_keep'
    # only the keep-the-outlier survivors, so the quantizer assignment,
    # the dup-group connectivity AND the keep-farthest rule all
    # hash-match the pure-Python twin (_py_semdedup)
    sd = SIM.semantic_dedup(
        df, n_cells=ANN_CELLS, threshold=SEMDUP_THRESHOLD, cents=cents
    )
    sem = sd.select(
        F.lit("semdup").alias("kind"),
        F.col("vec_id").alias("query_id"),
        F.col("component").alias("n_match"),
        F.round("cent_cos", 6).alias("recall"),
    )
    keepers = sd.filter("keep").select(
        F.lit("semdup_keep").alias("kind"),
        F.col("vec_id").alias("query_id"),
        F.col("component").alias("n_match"),
        F.lit(None).cast("double").alias("recall"),
    )
    return out.unionByName(sem).unionByName(keepers)


def ann_lsh_oracle_sql() -> str:
    d = ann_oracle_dir()
    brute = os.path.join(d, "ann_brute.parquet")

    def one(kind: str, src: str | None = None) -> str:
        approx = os.path.join(d, f"ann_{src or kind}.parquet")
        return f"""
SELECT '{kind}' AS kind, q.query_id,
       coalesce(m.n_match, 0) AS n_match,
       round(coalesce(m.n_match, 0) / {float(ANN_K)}, 6) AS recall
FROM (SELECT DISTINCT query_id FROM read_parquet('{brute}')) q
LEFT JOIN (
  SELECT b.query_id, count(*) AS n_match
  FROM read_parquet('{brute}') b
  JOIN read_parquet('{approx}') l
    ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
  GROUP BY 1) m USING (query_id)
"""

    # ivf_arrow reuses the ivf oracle parquet: the arrow kernel's CONTRACT
    # is cell-for-cell agreement with the expr kernel, so hash-matching
    # the same Python-twin top-k IS the kernel-equivalence check under
    # the driver's hard signal (stronger than the fixture pytest alone)
    semdup = os.path.join(d, "ann_semdup.parquet")
    return (
        one("lsh")
        + " UNION ALL " + one("ivf")
        + " UNION ALL " + one("ivf_arrow", src="ivf")
        + f"""
UNION ALL
SELECT 'semdup' AS kind, vec_id AS query_id, component AS n_match,
       round(cent_cos, 6) AS recall
FROM read_parquet('{semdup}')
UNION ALL
SELECT 'semdup_keep' AS kind, vec_id AS query_id, component AS n_match,
       CAST(NULL AS DOUBLE) AS recall
FROM read_parquet('{semdup}') WHERE keep
"""
    )


# ---------------------------------------------------------------------------
# S7 — binaryFile template scan as a driver row

TEMPLATE_FILES = [
    ("invite.msg", b"Subject: invite\n\nBody one"),
    ("sub/followup.msg", b"Subject: follow\n\nBody two, longer"),
    ("sub/readme.txt", b"not a template"),
    ("deep/nested/promo.msg", b"Subject: promo\n\nP"),
]


def _build_templates(d: str) -> None:
    for rel, data in TEMPLATE_FILES:
        path = os.path.join(d, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)


def template_dir() -> str:
    return _fixture_dir("ccp_templates", _build_templates)


def q_s7_template_scan(spark, sf_dir) -> DataFrame:
    from .plans.mailer import load_templates

    df = load_templates(spark, template_dir())
    return df.select(
        F.element_at(F.split(F.col("template_name"), "/"), -1).alias("file_name"),
        F.length("content").cast("long").alias("n_bytes"),
    )


def s7_oracle_sql() -> str:
    rows = [
        (rel.split("/")[-1], len(data))
        for rel, data in TEMPLATE_FILES
        if rel.endswith(".msg")
    ]
    values = ", ".join(f"('{n}', {s})" for n, s in rows)
    return (
        f"SELECT file_name, CAST(n_bytes AS BIGINT) AS n_bytes "
        f"FROM (VALUES {values}) AS t(file_name, n_bytes)"
    )


# ---------------------------------------------------------------------------
# robots.txt gating (north_rule) — engine gate vs pure-Python RFC 9309 oracle

ROBOTS_FIXTURES = {
    "firm-a.ru": (
        "User-agent: *\nDisallow: /private/\nDisallow: /*.pdf$\n"
        "Allow: /private/ok/\nCrawl-delay: 2\n\n"
        "User-agent: evilbot\nDisallow: /\n"
    ),
    "firm-b.ru": (
        "User-agent: ccc-spark\nDisallow: /contact\nAllow: /contacts-open/\n"
    ),
}

ROBOTS_URLS = [
    "http://firm-a.ru/public/x", "http://firm-a.ru/private/x",
    "http://firm-a.ru/private/ok/x", "http://firm-a.ru/doc.pdf",
    "http://firm-a.ru/doc.pdfx", "http://firm-a.ru/private/ok",
    "http://firm-a.ru", "http://firm-a.ru/a?b=/private/",
    "http://firm-b.ru/contact.html", "http://firm-b.ru/contacts-open/x",
    "http://firm-b.ru/CONTACT", "http://firm-c.ru/anything",
]


def q_robots_gate(spark, sf_dir) -> DataFrame:
    from .operators import robots as RB

    pages = spark.createDataFrame(
        [
            (f"http://{h}/robots.txt", bytearray(t.encode()))
            for h, t in ROBOTS_FIXTURES.items()
        ],
        "url string, html binary",
    )
    rules = RB.robots_rules(pages, agent="ccc-spark")
    frontier = spark.createDataFrame([(u,) for u in ROBOTS_URLS], ["url"])
    return RB.gate_frontier(frontier, rules, keep_denied=True).select(
        "url", "robots_allowed"
    )


def _write_robots_gate(d: str) -> None:
    from .refsem.robots import RobotsOracle

    oracle = RobotsOracle(ROBOTS_FIXTURES, agent="ccc-spark")
    rows = []
    for u in ROBOTS_URLS:
        host = u.split("//")[1].split("/")[0]
        rows.append((u, oracle.allowed(host, u)))
    _write(d, "robots_gate", {
        "url": [r[0] for r in rows],
        "robots_allowed": [r[1] for r in rows],
    })


def robots_oracle_sql() -> str:
    d = oracle_dir()
    return (
        f"SELECT url, robots_allowed FROM "
        f"read_parquet('{os.path.join(d, 'robots_gate.parquet')}')"
    )


# ---------------------------------------------------------------------------
# WARC ingestion (engine-new source) — binaryFile+mapInPandas vs refsem


def _warc_record(wtype: str, headers: dict, block: bytes) -> bytes:
    head = [f"WARC/1.0", f"WARC-Type: {wtype}"]
    head += [f"{k}: {v}" for k, v in headers.items()]
    head.append(f"Content-Length: {len(block)}")
    return ("\r\n".join(head) + "\r\n\r\n").encode() + block + b"\r\n\r\n"


def _http_block(body: bytes, ctype: str = "text/html") -> bytes:
    return (
        f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n"
        f"Content-Length: {len(body)}\r\n\r\n"
    ).encode() + body


def warc_fixture_bytes() -> dict:
    """name → raw file bytes: one plain .warc and one .warc.gz with
    concatenated per-record gzip members (the Common-Crawl layout)."""
    import gzip as _gz

    recs_a = [
        _warc_record("warcinfo", {"WARC-Date": "2025-06-01T00:00:00Z"},
                     b"software: test\r\n"),
        _warc_record("request", {
            "WARC-Target-URI": "http://firm-a.ru/",
            "WARC-Date": "2025-06-01T10:00:00Z",
        }, b"GET / HTTP/1.1\r\n\r\n"),
        _warc_record("response", {
            "WARC-Target-URI": "http://firm-a.ru/",
            "WARC-Date": "2025-06-01T10:00:00Z",
        }, _http_block(b"<html><body>home \r\n body</body></html>")),
        _warc_record("response", {
            "WARC-Target-URI": "http://firm-a.ru/contact",
            "WARC-Date": "2025-06-01T10:00:05.250000Z",
        }, _http_block(b"<html>mailto:x@firm-a.ru</html>")),
        # skipped: bad date
        _warc_record("response", {
            "WARC-Target-URI": "http://firm-a.ru/bad",
            "WARC-Date": "not-a-date",
        }, _http_block(b"x")),
        # skipped: no target uri
        _warc_record("response", {"WARC-Date": "2025-06-01T10:00:06Z"},
                     _http_block(b"y")),
    ]
    recs_b = [
        _warc_record("response", {
            "WARC-Target-URI": "http://firm-b.ru/",
            "WARC-Date": "2025-06-02T08:30:00Z",
        }, _http_block(b"<html>b-home</html>")),
        _warc_record("response", {
            "WARC-Target-URI": "http://firm-b.ru/about",
            "WARC-Date": "2025-06-02T08:30:01Z",
        }, b"no-http-header-block"),  # lenient: whole block is the body
    ]
    return {
        "seg-a.warc": b"".join(recs_a),
        "seg-b.warc.gz": b"".join(_gz.compress(r, mtime=0) for r in recs_b),
    }


def _build_warc(d: str) -> None:
    for name, data in warc_fixture_bytes().items():
        with open(os.path.join(d, name), "wb") as f:
            f.write(data)


def warc_dir() -> str:
    return _fixture_dir("ccp_warc", _build_warc)


def _build_cdx(d: str) -> None:
    from .sources.warc import build_cdx_lines

    lines = build_cdx_lines(
        warc_fixture_bytes()["seg-b.warc.gz"], "seg-b.warc.gz"
    )
    with open(os.path.join(d, "seg-b.cdx"), "w") as f:
        f.write("\n".join(lines) + "\n")


def cdx_dir() -> str:
    """CDXJ index for the fixture's ``.warc.gz`` segment (the compressed
    file is the one whose members a CDX makes individually addressable —
    see ``sources/warc.py`` module docstring)."""
    return _fixture_dir("ccp_cdx", _build_cdx)


def q_warc_ingest(spark, sf_dir) -> DataFrame:
    """Labeled union over all THREE read paths (r4 verdict #3: the row
    verified only whole-file reads; ranged and CDX-indexed were
    pytest-only): kind='whole' (one file per task), kind='ranged'
    (record-aligned splits, target_bytes=1 → maximal split, gz falls back
    whole-file — contract: bit-identical pages), kind='indexed' (CDX
    record-level reads inside the .warc.gz segment, so only the gz
    segment's pages appear under that kind)."""
    from .sources.warc import read_cdx, read_warc, read_warc_indexed, read_warc_ranged

    def label(pages: DataFrame, kind: str) -> DataFrame:
        return pages.select(
            F.lit(kind).alias("kind"),
            "url", "warc_ts",
            F.length("html").cast("long").alias("n_bytes"),
            F.md5("html").alias("html_md5"),
        )

    # partitions=8: the scale default (4·defaultParallelism) is right for
    # CC segments but pure empty-task stage overhead on a 2-file fixture
    whole = label(read_warc(spark, warc_dir(), partitions=8), "whole")
    ranged = label(
        read_warc_ranged(
            spark, warc_dir(), glob="*.warc*", target_bytes=1, partitions=8
        ),
        "ranged",
    )
    indexed = label(
        read_warc_indexed(
            spark, read_cdx(spark, cdx_dir()), warc_dir(), partitions=8
        ),
        "indexed",
    )
    return whole.unionByName(ranged).unionByName(indexed)


def _write_warc_ingest(d: str) -> None:
    from .refsem.warc import pages_from_warc

    fixtures = warc_fixture_bytes()
    rows = []
    for kind, datas in (
        ("whole", fixtures.values()),
        ("ranged", fixtures.values()),          # bit-identical contract
        ("indexed", [fixtures["seg-b.warc.gz"]]),  # CDX covers the gz segment
    ):
        for data in datas:
            for url, ts, body in pages_from_warc(data):
                rows.append(
                    (kind, url, ts, len(body), hashlib.md5(body).hexdigest())
                )
    _write(d, "warc_ingest", {
        "kind": [r[0] for r in rows],
        "url": [r[1] for r in rows],
        "warc_ts": [r[2] for r in rows],
        "n_bytes": [r[3] for r in rows],
        "html_md5": [r[4] for r in rows],
    })


def warc_oracle_sql() -> str:
    d = oracle_dir()
    return (
        "SELECT kind, url, warc_ts, CAST(n_bytes AS BIGINT) AS n_bytes, "
        "html_md5 "
        f"FROM read_parquet('{os.path.join(d, 'warc_ingest.parquet')}')"
    )


# ---------------------------------------------------------------------------
# sitemap ingestion (engine-new) — two-round Spark plan vs refsem walk

SITEMAP_FIXTURES = {
    # plain urlset: entities, whitespace, lastmod, junk entries
    "http://firm-a.ru/sitemap.xml": (
        '<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc> http://firm-a.ru/ </loc><lastmod>2025-01-02</lastmod></url>"
        "<url><loc>http://firm-a.ru/contact?a=1&amp;b=2</loc></url>"
        "<url><loc></loc></url>"
        "<url><changefreq>daily</changefreq></url>"
        "<url><loc>ftp://firm-a.ru/not-http</loc></url>"
        "<URL><LOC>http://firm-a.ru/upper</LOC></URL>"
        "</urlset>"
    ),
    # sitemapindex → two nested sitemaps, one missing from the corpus
    "http://firm-b.ru/sitemap.xml": (
        "<sitemapindex>"
        "<sitemap><loc>http://firm-b.ru/sm/products.xml</loc></sitemap>"
        "<sitemap><loc>http://firm-b.ru/sm/missing.xml</loc></sitemap>"
        "<sitemap><loc>http://firm-b.ru/sm/news.xml</loc></sitemap>"
        "</sitemapindex>"
    ),
    "http://firm-b.ru/sm/products.xml": (
        "<urlset><url><loc>http://firm-b.ru/p/1</loc></url>"
        "<url><loc>http://firm-b.ru/p/2</loc><lastmod> 2025-03-04 </lastmod></url></urlset>"
    ),
    "http://firm-b.ru/sm/news.xml": (
        "<urlset><url><loc>http://firm-b.ru/news/&quot;q&quot;</loc></url></urlset>"
    ),
}

# gzip-compressed sitemap (sitemaps.org allows .xml.gz; mtime pinned for
# byte-determinism) — the magic-byte Arrow branch + refsem doc_text twin
def _gz_xml(xml: str) -> bytes:
    import gzip as _gzip

    return _gzip.compress(xml.encode(), mtime=0)


SITEMAP_FIXTURES["http://firm-g.ru/sitemap.xml.gz"] = _gz_xml(
    "<urlset><url><loc>http://firm-g.ru/</loc>"
    "<lastmod>2025-05-06</lastmod></url>"
    "<url><loc>http://firm-g.ru/contact</loc></url></urlset>"
)

SITEMAP_ROOTS = [
    "http://firm-a.ru/sitemap.xml",
    "http://firm-b.ru/sitemap.xml",
    "http://firm-c.ru/sitemap.xml",  # not in corpus → no rows
    "http://firm-g.ru/sitemap.xml.gz",  # gzip member
]


def sitemap_fixture_bytes() -> list:
    """(url, bytes) corpus rows — str fixtures encode, gz stay raw."""
    return [
        (u, x if isinstance(x, (bytes, bytearray)) else x.encode())
        for u, x in SITEMAP_FIXTURES.items()
    ]


def q_sitemap_ingest(spark, sf_dir) -> DataFrame:
    from .operators import sitemap as SM

    # coalesce(1): the fixture is 5 documents — without it every join /
    # window stage in the two-round plan schedules default-parallelism
    # empty tasks, pure overhead in a row whose point is semantics
    pages = spark.createDataFrame(
        [(u, bytearray(x)) for u, x in sitemap_fixture_bytes()],
        "url string, html binary",
    ).coalesce(1)
    roots = spark.createDataFrame(
        [(u,) for u in SITEMAP_ROOTS], ["url"]
    ).coalesce(1)
    return SM.sitemap_urls(pages, roots)


def _write_sitemap_ingest(d: str) -> None:
    from .refsem import sitemap as RSM

    rows = RSM.crawl_sitemaps(SITEMAP_FIXTURES, SITEMAP_ROOTS)
    _write(d, "sitemap_ingest", {
        "root_url": [r[0] for r in rows],
        "ord": [r[1] for r in rows],
        "url": [r[2] for r in rows],
        "lastmod": [r[3] for r in rows],
    })


def sitemap_oracle_sql() -> str:
    d = oracle_dir()
    return (
        "SELECT root_url, ord, url, lastmod FROM "
        f"read_parquet('{os.path.join(d, 'sitemap_ingest.parquet')}')"
    )


# ---------------------------------------------------------------------------
# recrawl selection + sitemap seed dedup (engine-new) — labeled-union row

# Fixtures exercise the recrawl contract's hard cases: one URL in THREE
# sitemaps with differing lastmods (max must win — incl. an out-of-profile
# value that parses to null), partial W3C dates (YYYY-MM / YYYY), a
# timezone offset normalizing to UTC, and a never-fetched URL.
RECRAWL_FIXTURES = {
    "http://firm-d.ru/sitemap.xml": (
        "<urlset>"
        "<url><loc>http://firm-d.ru/p</loc><lastmod>2025-06-01</lastmod></url>"
        "<url><loc>http://firm-d.ru/new</loc></url>"
        "<url><loc>http://firm-d.ru/q</loc><lastmod>2025-06-02</lastmod></url>"
        "<url><loc>http://firm-d.ru/m</loc><lastmod>2025-07</lastmod></url>"
        "</urlset>"
    ),
    "http://firm-e.ru/sitemap.xml": (
        "<urlset>"
        "<url><loc>http://firm-d.ru/p</loc><lastmod>2025-06-10</lastmod></url>"
        "<url><loc>http://firm-d.ru/p</loc><lastmod>20250615</lastmod></url>"
        "<url><loc>http://firm-d.ru/y</loc><lastmod>2026</lastmod></url>"
        "<url><loc>http://firm-e.ru/old</loc><lastmod>2025-01-01</lastmod></url>"
        "<url><loc>http://firm-e.ru/tz</loc>"
        "<lastmod>2025-06-05T12:00:00+02:00</lastmod></url>"
        "</urlset>"
    ),
}

RECRAWL_ROOTS = sorted(RECRAWL_FIXTURES)

# last-fetch stamps: chosen so /p /m /y /tz go stale, /q /old stay fresh,
# /new is never-fetched
RECRAWL_FETCH_LOG = [
    ("http://firm-d.ru/p", datetime.datetime(2025, 6, 5)),
    ("http://firm-d.ru/q", datetime.datetime(2025, 6, 5)),
    ("http://firm-d.ru/m", datetime.datetime(2025, 6, 5)),
    ("http://firm-d.ru/y", datetime.datetime(2025, 6, 5)),
    ("http://firm-e.ru/old", datetime.datetime(2025, 6, 5)),
    ("http://firm-e.ru/tz", datetime.datetime(2025, 6, 5, 9, 0)),
]


def q_recrawl_select(spark, sf_dir) -> DataFrame:
    """Labeled union: kind='recrawl' rows are recrawl_candidates decisions
    (label = new|stale, ts = winning lastmod); kind='seeds' rows are
    seeds_from_sitemaps first-occurrence dedup (label = the kept
    occurrence's raw lastmod string, ts = null)."""
    from .operators import sitemap as SM

    pages = spark.createDataFrame(
        [(u, bytearray(x.encode())) for u, x in RECRAWL_FIXTURES.items()],
        "url string, html binary",
    ).coalesce(1)
    roots = spark.createDataFrame(
        [(u,) for u in RECRAWL_ROOTS], ["url"]
    ).coalesce(1)
    entries = SM.sitemap_urls(pages, roots)
    log = spark.createDataFrame(
        RECRAWL_FETCH_LOG, "url string, last_fetch_ts timestamp"
    ).coalesce(1)
    rc = SM.recrawl_candidates(entries, log).select(
        F.lit("recrawl").alias("kind"),
        "url",
        F.col("lastmod_ts").alias("ts"),
        F.col("reason").alias("label"),
    )
    seeds = SM.seeds_from_sitemaps(pages, roots).select(
        F.lit("seeds").alias("kind"),
        "url",
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("lastmod").alias("label"),
    )
    return rc.unionByName(seeds)


def _write_recrawl_select(d: str) -> None:
    from .refsem import sitemap as RSM

    entries = RSM.crawl_sitemaps(RECRAWL_FIXTURES, RECRAWL_ROOTS)
    rows = [
        ("recrawl", url, ts, reason)
        for url, ts, reason in RSM.recrawl_select(
            entries, dict(RECRAWL_FETCH_LOG)
        )
    ]
    # seeds twin: first occurrence per url by (root_url, ord) string order
    # — exactly the Spark window's orderBy("root_url", "ord")
    seen: dict = {}
    for root, ordv, url, lastmod in sorted(entries, key=lambda r: (r[0], r[1])):
        if url not in seen:
            seen[url] = lastmod
    rows += [("seeds", url, None, lm) for url, lm in seen.items()]
    _write(d, "recrawl_select", {
        "kind": [r[0] for r in rows],
        "url": [r[1] for r in rows],
        "ts": [r[2] for r in rows],
        "label": [r[3] for r in rows],
    })


def recrawl_oracle_sql() -> str:
    d = oracle_dir()
    return (
        "SELECT kind, url, ts, label FROM "
        f"read_parquet('{os.path.join(d, 'recrawl_select.parquet')}')"
    )


# ---------------------------------------------------------------------------
# H2/H3 nested category loads — two-round Spark plan vs refsem walk w/ fetch

def _nested_fixture(layout):
    if layout == "jsprav":
        base = "http://jsprav.test"
        cat = webgen.jsprav_catalog_page()
        subs = {f"{base}/cat/uslugi/all/": webgen.jsprav_showall_page()}
    else:
        base = "http://spravker.test"
        cat = webgen.spravker_catalog_page()
        subs = {f"{base}/cats/avto/": webgen.spravker_subcats_page()}
    return base, cat, subs


def _write_nested_categories(d: str) -> None:
    """Pure-Python H2/H3 nested-load oracle (refsem walk with a fetch
    callback), written as parquet for the folded h_categories twin."""
    rows = []
    for layout in ("jsprav", "spravker"):
        base, cat, subs = _nested_fixture(layout)
        lookup = {u: RH.parse_html(h) for u, h in subs.items()}
        fetch = lookup.get
        doc = RH.parse_html(cat)
        recs = (
            RH.get_nov_category_links(doc, base, "77", fetch=fetch)
            if layout == "jsprav"
            else RH.get_category_links(doc, base, "77", fetch=fetch)
        )
        rows += [(layout, *r) for r in recs]
    _write(d, "categories_nested", {
        "layout": [r[0] for r in rows], "category_id": [r[1] for r in rows],
        "name": [r[2] for r in rows], "parent_id": [r[3] for r in rows],
        "href": [r[4] for r in rows], "city_code": [r[5] for r in rows],
    })


# ---------------------------------------------------------------------------
# streaming politeness auditor — the applyInPandasWithState surface under
# the driver's hard hash signal (r4 verdict next-round #4)

AUDIT_DELAY_MS = 60_000
AUDIT_HOSTS_MOD = 20
AUDIT_BATCHES = 3


def q_events_audit(spark, sf_dir) -> DataFrame:
    """Final per-host (events, violations, last_ts_ms) from a REAL
    multi-batch streaming run of the stateful politeness auditor
    (``streaming/events.py:host_budget_state``): the sf events table is
    split into ``AUDIT_BATCHES`` time-ordered files, streamed with
    ``maxFilesPerTrigger=1`` + ``availableNow`` so state must carry
    across micro-batches, and the append-mode memory sink is folded to
    each host's last emission (events/violations/last_ts_ms are all
    monotone per host, so ``max`` selects it). Hash-equality with the
    one-shot SQL twin (lag-gap scan over the whole table) is exactly the
    cross-batch-state contract: incremental == global.

    Cost floor (r6, measured): ~5 s/call — stream-query startup +
    state-store checkpoint init + 3 real micro-batch rounds, ALREADY on
    the cheap path (availableNow one-shot over 3 pre-split source files,
    one write job for the split). The floor is the price of running
    cross-batch state for real rather than simulating it; bench.py's
    per-kind timing attributes it to the audit kind's 'build' slot so
    rounds don't re-litigate it as a regression."""
    import uuid

    from .streaming.events import host_budget_state

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # deterministic quarter of the stream (event_id mod — host universe
    # unaffected): the audit kind pins cross-batch STATE semantics, the
    # window kind already covers volume; full-table streaming would just
    # tax the driver row's budget
    derived = ev.filter(F.col("event_id") % 4 == 0).select(
        F.concat(F.lit("h"), (F.col("user_id") % AUDIT_HOSTS_MOD).cast("string")).alias("host"),
        "ts",
    ).withColumn("bucket", F.ntile(AUDIT_BATCHES).over(Window.orderBy("ts")))

    d = tempfile.mkdtemp(prefix="ccp_audit_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    # ONE write job: repartition("bucket") puts each time slice in exactly
    # one task → one parquet file per bucket dir; the slice files then
    # move into the stream source dir with increasing mtimes so the file
    # source processes batches in time order (batch k+1's timestamps are
    # >= batch k's; ties at slice boundaries can't flip a violation —
    # an equal-ts gap counts on either side of the split)
    tmp = os.path.join(d, "parts")
    derived.repartition("bucket").write.partitionBy("bucket").parquet(tmp)
    now = None
    for i in range(1, AUDIT_BATCHES + 1):
        bdir = os.path.join(tmp, f"bucket={i}")
        part = next(
            fn for fn in sorted(os.listdir(bdir)) if fn.endswith(".parquet")
        )
        dst = os.path.join(src, f"{i:03d}.parquet")
        os.rename(os.path.join(bdir, part), dst)
        if now is None:
            now = os.path.getmtime(dst)
        os.utime(dst, (now + i, now + i))

    # the stream runs in a child session (shared SparkContext, its own SQL
    # conf), so nothing here changes the caller's session conf while
    # other rows build frames from thread pools. Stateful-operator
    # parallelism = shuffle partitions AT STREAM START (frozen into the
    # checkpoint): size it to the key universe (AUDIT_HOSTS_MOD hosts, a
    # handful of keys per state partition), not the session's core-count
    # default — 3 micro-batches × 32 state-store tasks of mostly-empty
    # state was pure per-task overhead (state init + commit per partition
    # per batch; measured 3.1 s @20 partitions vs 2.1 s @4 on the warm
    # path). Per-host totals are partition-count-invariant; last_ts_ms
    # depends on the session time zone, so the child takes the caller's.
    child = spark.newSession()
    child.conf.set(
        "spark.sql.shuffle.partitions",
        str(min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                max(2, AUDIT_HOSTS_MOD // 5))),
    )
    child.conf.set(
        "spark.sql.session.timeZone", spark.conf.get("spark.sql.session.timeZone")
    )
    stream = (
        child.readStream.schema("host string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    audited = host_budget_state(stream, delay_ms=AUDIT_DELAY_MS)
    name = "ccp_audit_" + uuid.uuid4().hex[:12]
    q = (
        audited.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the memory sink's view lives in the child session
    return (
        child.table(name)
        .groupBy("host")
        .agg(
            F.max("events").alias("events"),
            F.max("violations").alias("violations"),
            F.max("last_ts_ms").alias("last_ts_ms"),
        )
    )


def events_audit_oracle_sql() -> str:
    """DuckDB one-shot twin: per-host lag-gap scan over the WHOLE events
    table — what the incremental stream must equal."""
    return f"""
WITH ev AS (
  SELECT 'h' || CAST(user_id % {AUDIT_HOSTS_MOD} AS VARCHAR) AS host, ts
  FROM events WHERE event_id % 4 = 0
),
g AS (
  SELECT host, ts, lag(ts) OVER (PARTITION BY host ORDER BY ts) AS prev
  FROM ev
)
SELECT host,
       CAST(count(*) AS BIGINT) AS events,
       CAST(sum(CASE WHEN prev IS NOT NULL
                      AND epoch_ms(ts) - epoch_ms(prev) < {AUDIT_DELAY_MS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS violations,
       max(epoch_ms(ts)) AS last_ts_ms
FROM g GROUP BY host
"""


# ---------------------------------------------------------------------------
# streaming near-dup detection — dedup-on-ingest under the hard hash signal
# (r6: streaming twin of minhash_lsh_pairs; see streaming/dedup.py)

STREAM_DEDUP_BATCHES = 3
STREAM_DEDUP_CAP = 256


def q_minhash_lsh_stream(spark, sf_dir) -> DataFrame:
    """Distinct online near-dup candidate pairs from a REAL multi-batch
    streaming run of ``streaming/dedup.py``: half the sf documents table
    (doc_id % 2 = 0 — the row pins cross-batch state semantics, the batch
    row already covers volume) split into ``STREAM_DEDUP_BATCHES``
    id-ordered files, streamed with ``maxFilesPerTrigger=1`` +
    ``availableNow``; band keys are the per-row streaming projection
    (hash-equal to the batch explode+aggregate path — that equality is
    itself pytest-pinned), pairs come from the per-bucket
    ``applyInPandasWithState`` whose state must carry across micro-batches
    for any pair whose members arrive in different batches. The oracle is
    the one-shot arrival-rank SQL twin (rk < rk' ≤ cap over the whole
    half-table): incremental == global, same contract as
    :func:`q_events_audit`."""
    import uuid

    from .streaming.dedup import banded_keys_rowwise, streaming_lsh_pairs

    docs = (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text")
        .withColumn(
            "bucket",
            F.ntile(STREAM_DEDUP_BATCHES).over(Window.orderBy("doc_id")),
        )
    )

    d = tempfile.mkdtemp(prefix="ccp_sdedup_")
    src = os.path.join(d, "src")
    os.makedirs(src)
    # one write job; slice files renamed into the source dir with
    # increasing mtimes so batches stream in ascending-doc_id order
    # (arrival order == id order is what the oracle's rank ORDER BY
    # doc_id mirrors) — same mechanics as q_events_audit
    tmp = os.path.join(d, "parts")
    docs.repartition("bucket").write.partitionBy("bucket").parquet(tmp)
    now = None
    for i in range(1, STREAM_DEDUP_BATCHES + 1):
        bdir = os.path.join(tmp, f"bucket={i}")
        part = next(
            fn for fn in sorted(os.listdir(bdir)) if fn.endswith(".parquet")
        )
        dst = os.path.join(src, f"{i:03d}.parquet")
        os.rename(os.path.join(bdir, part), dst)
        if now is None:
            now = os.path.getmtime(dst)
        os.utime(dst, (now + i, now + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    pairs = streaming_lsh_pairs(
        banded_keys_rowwise(stream, num_hashes=8, bands=4),
        max_bucket=STREAM_DEDUP_CAP,
    )
    name = "ccp_sdedup_" + uuid.uuid4().hex[:12]
    q = (
        pairs.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(d, "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the same pair re-arrives from multiple bands (batch op dedups the
    # same way); fold = DISTINCT, exactly the batch operator's last step
    return spark.table(name).select("id_a", "id_b").distinct()

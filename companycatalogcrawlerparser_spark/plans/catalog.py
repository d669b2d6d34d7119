"""Catalog scrape plan — entry point 1 (SURVEY.md §3.1;
``Program.fs:17-490``).

Spark shape: seeds → fetch join → category-extract UDTF → categories table
(K1 merge) → round A fetches listing page 1 per leaf category and extracts
the pagination max (A4/H8) → round B ``explode(sequence(2, pnum))``
generates the remaining listing URLs set-orientedly (replacing the per-
category while loop) → company-extract UDTF (H4/H5/H6) → K3 blind append →
A2/W1 dedup downstream.

The extract UDTFs call the same ``refsem.htmlparse`` walks as the oracle —
byte-identical fields by construction.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

CATEGORY_SCHEMA = (
    "page_url string, category_id long, name string, parent_id long, "
    "href string, city_code string"
)
COMPANY_SCHEMA = (
    "page_url string, company_seq long, category_id long, name string, "
    "address string, phone string, timework string, site_url string"
)
PAGENUM_SCHEMA = "page_url string, page_count int"

LAYOUTS = ("bizly", "spravker", "jsprav")

# the city code the category walks stamp on their links (Moscow's)
CITY_CODE = "77"


def extract_categories(pages: DataFrame, layout: str) -> DataFrame:
    """H1/H2/H3 per layout. ``pages``: (url, html binary). The reference's
    nested show_all/subcats fetches (HtmlParsing.fs:68,103) are modeled as
    second-round fetches in the driver plan, not inside the UDF — pass the
    sub-pages through another extract round instead."""
    import pandas as pd

    if layout not in LAYOUTS:
        raise ValueError(f"unknown layout {layout}")

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from ..refsem import htmlparse as H

        for b in batches:
            rows = []
            for url, html in zip(b["url"], b["html"]):
                if html is None:
                    continue
                doc = H.parse_html(bytes(html).decode("utf-8", errors="replace"))
                if layout == "bizly":
                    recs = H.get_div_row(doc)
                elif layout == "jsprav":
                    recs = H.get_nov_category_links(doc, "", CITY_CODE, fetch=None)
                else:
                    recs = H.get_category_links(doc, "", CITY_CODE, fetch=None)
                for rid, name, parent, href, cc in recs:
                    rows.append((url, rid, name, parent, href, cc))
            yield pd.DataFrame(
                rows,
                columns=["page_url", "category_id", "name", "parent_id", "href", "city_code"],
            )

    return pages.select("url", "html").mapInPandas(run, schema=CATEGORY_SCHEMA)


def extract_companies(pages: DataFrame, layout: str) -> DataFrame:
    """H4/H5/H6 per layout over listing pages; ``category_id`` must ride
    along on the pages frame."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from ..refsem import htmlparse as H

        for b in batches:
            rows = []
            for url, html, cat in zip(b["url"], b["html"], b["category_id"]):
                if html is None:
                    continue
                doc = H.parse_html(bytes(html).decode("utf-8", errors="replace"))
                if layout == "bizly":
                    recs = H.get_div_company(doc, int(cat))
                elif layout == "spravker":
                    recs = H.get_div_companies(doc, int(cat))
                else:
                    recs = H.get_nov_div_companies(doc, int(cat))
                for seq, cid, name, addr, phone, tw, site in recs:
                    rows.append((url, seq, cid, name, addr, phone, tw, site))
            yield pd.DataFrame(
                rows,
                columns=[
                    "page_url", "company_seq", "category_id", "name",
                    "address", "phone", "timework", "site_url",
                ],
            )

    return pages.select("url", "html", "category_id").mapInPandas(
        run, schema=COMPANY_SCHEMA
    )


NESTED_URL_SCHEMA = "url string, nested_url string"


def _nested_url_collector(layout: str, base_url: str):
    """Run the refsem walk with a fetch callback that RECORDS the nested
    URLs and returns None (the walk treats None as fetch-failure and
    continues) — exactly the URLs HtmlParsing.fs:68/103 would load."""
    from ..refsem import htmlparse as H

    def collect(doc):
        urls: list = []

        def fetch(u):
            urls.append(u)
            return None

        if layout == "jsprav":
            H.get_nov_category_links(doc, base_url, CITY_CODE, fetch=fetch)
        elif layout == "spravker":
            H.get_category_links(doc, base_url, CITY_CODE, fetch=fetch)
        return urls

    return collect


def nested_category_urls(
    pages: DataFrame, layout: str, base_url: str = ""
) -> DataFrame:
    """Round A of the nested-fetch protocol: (url, nested_url) pairs —
    the show_all / subcats pages each category page wants loaded."""
    import pandas as pd

    def run(batches):
        from ..refsem import htmlparse as H

        collect = _nested_url_collector(layout, base_url)
        for b in batches:
            rows = []
            for url, html in zip(b["url"], b["html"]):
                if html is None:
                    continue
                doc = H.parse_html(bytes(html).decode("utf-8", errors="replace"))
                for nu in collect(doc):
                    rows.append((url, nu))
            yield pd.DataFrame(rows, columns=["url", "nested_url"])

    return pages.select("url", "html").mapInPandas(run, schema=NESTED_URL_SCHEMA)


def extract_categories_nested(
    pages: DataFrame,
    corpus: DataFrame,
    layout: str,
    base_url: str = "",
) -> DataFrame:
    """H2/H3 WITH the reference's nested page loads (HtmlParsing.fs:68,103)
    as a set-oriented two-round plan: round A lists each page's nested
    URLs (above), ONE corpus join fetches them, the sub-pages ride back to
    their parent as an array column, and round B re-runs the refsem walk
    with ``fetch`` = lookup into that array — sequential id counters and
    the in-list dedup on (Name, CityCode, ParentId, Href) come out
    byte-exact because the walk IS the oracle code. The per-category
    while-loop of the reference becomes two bulk fetch rounds."""
    import pandas as pd

    nested = nested_category_urls(pages, layout, base_url)
    subs = (
        nested.join(
            corpus.select(F.col("url").alias("nested_url"), F.col("html").alias("sub_html")),
            "nested_url",
            "left",
        )
        .groupBy("url")
        .agg(
            # bounded buffer: one PARENT catalog page's nested links (the
            # handful of show_all/subcats anchors on that page, tens at
            # most) — never a corpus-scale membership list
            F.collect_list(F.struct("nested_url", "sub_html")).alias("subpages")
        )
    )
    enriched = pages.select("url", "html").join(subs, "url", "left")

    def run(batches):
        from ..refsem import htmlparse as H

        for b in batches:
            rows = []
            for url, html, subpages in zip(b["url"], b["html"], b["subpages"]):
                if html is None:
                    continue
                lookup = {}
                if subpages is not None:
                    for sp in subpages:
                        nu, sh = sp["nested_url"], sp["sub_html"]
                        if sh is not None:
                            lookup[nu] = H.parse_html(
                                bytes(sh).decode("utf-8", errors="replace")
                            )

                def fetch(u):
                    return lookup.get(u)

                doc = H.parse_html(bytes(html).decode("utf-8", errors="replace"))
                if layout == "jsprav":
                    recs = H.get_nov_category_links(doc, base_url, CITY_CODE, fetch=fetch)
                elif layout == "spravker":
                    recs = H.get_category_links(doc, base_url, CITY_CODE, fetch=fetch)
                else:
                    recs = H.get_div_row(doc)
                for rid, name, parent, href, cc in recs:
                    rows.append((url, rid, name, parent, href, cc))
            yield pd.DataFrame(
                rows,
                columns=["page_url", "category_id", "name", "parent_id", "href", "city_code"],
            )

    return enriched.mapInPandas(run, schema=CATEGORY_SCHEMA)


def extract_page_counts(pages: DataFrame) -> DataFrame:
    """A4/H8 — pagination max per listing page 1."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from ..refsem import htmlparse as H

        for b in batches:
            rows = []
            for url, html in zip(b["url"], b["html"]):
                if html is None:
                    continue
                doc = H.parse_html(bytes(html).decode("utf-8", errors="replace"))
                rows.append((url, H.get_page_number(doc, "div")))
            yield pd.DataFrame(rows, columns=["page_url", "page_count"])

    return pages.select("url", "html").mapInPandas(run, schema=PAGENUM_SCHEMA)


def listing_urls(
    page1: DataFrame, template: str = "page-{n}/", url_col: str = "page_url"
) -> DataFrame:
    """Round B — explode pages 2..pnum from the page-1 counts using the
    reference URL templates ``…page-%d/`` (Program.fs:94) or ``…?p-%d``
    (Program.fs:237,459). Returns (category_id, url, page_no)."""
    base = F.col(url_col)
    n = F.col("page_no")
    if template == "page-{n}/":
        url = F.concat(base, F.lit("page-"), n.cast("string"), F.lit("/"))
    elif template == "?p-{n}":
        url = F.concat(base, F.lit("?p-"), n.cast("string"))
    else:
        raise ValueError(f"unknown template {template}")
    return (
        page1.filter(F.col("page_count") >= 2)
        .select(
            "*",
            F.explode(F.sequence(F.lit(2), F.col("page_count"))).alias("page_no"),
        )
        .withColumn("url", url)
    )


CITY_SCHEMA = "page_url string, seq int, name string, subordination string, code string, region string"
COUNTRY_SCHEMA = (
    "page_url string, country_id long, name string, fname string, "
    "capital string, phone string, domain string, region string"
)
REGION_SCHEMA = "page_url string, code string, name string"
RUS_CITY_SCHEMA = "page_url string, name string, subordination string, code string, region string"


def _h7_extract(pages: DataFrame, fn_name: str, schema: str, columns) -> DataFrame:
    """Shared H7 UDTF lift: run one refsem dimension scrape per page."""
    import pandas as pd

    def run(batches):
        from ..refsem import htmlparse as H

        fn = getattr(H, fn_name)
        for b in batches:
            rows = []
            for url, html in zip(b["url"], b["html"]):
                if html is None:
                    continue
                doc = H.parse_html(bytes(html).decode("utf-8", errors="replace"))
                for i, rec in enumerate(fn(doc)):
                    if fn_name == "get_cities":
                        rows.append((url, i, *rec))
                    else:
                        rows.append((url, *rec))
            yield pd.DataFrame(rows, columns=columns)

    return pages.select("url", "html").mapInPandas(run, schema=schema)


def extract_cities(pages: DataFrame) -> DataFrame:
    """H7 ``getCities`` lift — (page_url, seq, name, subordination, code,
    region); ``seq`` is document order, needed for the reference's
    skip(1)/take(n-2) slice (Program.fs:394)."""
    return _h7_extract(
        pages, "get_cities", CITY_SCHEMA,
        ["page_url", "seq", "name", "subordination", "code", "region"],
    )


def extract_country_list(pages: DataFrame) -> DataFrame:
    """H7 ``getCountryList`` lift."""
    return _h7_extract(
        pages, "get_country_list", COUNTRY_SCHEMA,
        ["page_url", "country_id", "name", "fname", "capital", "phone", "domain", "region"],
    )


def extract_russian_regions(pages: DataFrame) -> DataFrame:
    """H7 ``getRussionRegionList`` lift."""
    return _h7_extract(
        pages, "get_russian_region_list", REGION_SCHEMA,
        ["page_url", "code", "name"],
    )


def extract_russian_cities(pages: DataFrame) -> DataFrame:
    """H7 ``getRussionCitiesList`` lift."""
    return _h7_extract(
        pages, "get_russian_cities_list", RUS_CITY_SCHEMA,
        ["page_url", "name", "subordination", "code", "region"],
    )


# Program.fs:346-389 — the hardcoded jsprav city seed list (U2 static side)
CITY_SEEDS_STATIC = [
    ("https://ekaterinburg.jsprav.ru", "66"), ("https://kazan.jsprav.ru", "16"),
    ("https://omsk.jsprav.ru", "55"), ("https://chelyabinsk.jsprav.ru", "74"),
    ("https://samara.jsprav.ru", "55"), ("https://ufa.jsprav.ru", "02"),
    ("https://krasnoyarsk.jsprav.ru", "24"), ("https://voronezh.jsprav.ru", "36"),
    ("https://volgograd.jsprav.ru", "59"), ("https://krasnodar.jsprav.ru", "23"),
    ("https://saratov.jsprav.ru", "64"), ("https://tyumen.jsprav.ru", "72"),
    ("https://tolyatti.jsprav.ru", "63"), ("https://izhevsk.jsprav.ru", "18"),
    ("https://barnaul.jsprav.ru", "22"), ("https://ulyanovsk.jsprav.ru", "73"),
    ("https://irkutsk.jsprav.ru", "38"), ("https://habarovsk.jsprav.ru", "27"),
    ("https://yaroslavl.jsprav.ru", "76"), ("https://vladivostok.jsprav.ru", "25"),
    ("https://mahachkala.jsprav.ru", "05"), ("https://tomsk.jsprav.ru", "70"),
    ("https://orenburg.jsprav.ru", "56"), ("https://kemerovo.jsprav.ru", "42"),
    ("https://ryazan.jsprav.ru", "62"), ("https://astrahan.jsprav.ru", "30"),
    ("https://penza.jsprav.ru", "58"), ("https://kirov.jsprav.ru", "43"),
    ("https://lipetsk.jsprav.ru", "48"), ("https://balashiha.jsprav.ru", "50"),
    ("https://kaliningrad.jsprav.ru", "39"), ("https://tula.jsprav.ru", "71"),
    ("https://kursk.jsprav.ru", "46"), ("https://sochi.jsprav.ru", "23"),
    ("https://stavropol.jsprav.ru", "26"), ("https://ulan-ude.jsprav.ru", "03"),
    ("https://tver.jsprav.ru", "69"), ("https://magnitogorsk.jsprav.ru", "74"),
    ("https://ivanovo.jsprav.ru", "37"), ("https://kamensk-uralskij.jsprav.ru", "66"),
    ("https://blagoveschensk.jsprav.ru", "28"),
]


def synthesize_city_seeds(
    cities: DataFrame,
    city_dim: DataFrame,
    pages: DataFrame,
) -> DataFrame:
    """U2/J6 — seed-URL synthesis from the H7 city scrape
    (``Program.fs:345-409``): slice the ``Code='6'`` table's rows
    (skip 1, take n-2 — header/footer artifacts), transliterate the city
    name (X6), template ``https://{latin}.jsprav.ru/``, look the city code
    up in the dimension table (J6, broadcast join — a miss throws in the
    reference, so it's an INNER join here), keep only reachable URLs
    ("the corpus is the web": left-semi against the pages table, standing
    in for the probe fetch), lowercase, and union with the static list.
    The reference computes an ``Артем``→``Артём`` fixup string but never
    uses it (both translit and getCity take the original name) — mirrored
    by NOT special-casing it. Returns (url, city_code)."""
    from pyspark.sql import Window

    from ..functions.canon import translit_cyrillic_to_latin, translit_mappable

    filtered = cities.filter(F.col("code") == "6")
    # skip(1) |> take(n-2) over the FILTERED sequence in document order:
    # rank rows within each source page, drop the first and the last
    # (header/footer artifacts of the sheet export). The window partitions
    # by page — tiny per-page cardinality, no global single task.
    w = Window.partitionBy("page_url").orderBy("seq")
    sliced = (
        filtered.withColumn("__r", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(Window.partitionBy("page_url")))
        .filter((F.col("__r") >= 2) & (F.col("__r") <= F.col("__n") - 1))
        .drop("__r", "__n")
    )
    # unmapped names (any char outside the X6 translit domain) are DROPPED:
    # the reference's List.find would crash the whole run on them, so a
    # mistranslated pass-through URL must never reach the seed list
    # (functions/canon.translit_mappable docstring)
    urls = sliced.filter(translit_mappable(F.col("name"))).select(
        F.col("name"),
        F.lower(
            F.concat(
                F.lit("https://"),
                translit_cyrillic_to_latin(F.col("name")),
                F.lit(".jsprav.ru/"),
            )
        ).alias("url"),
    )
    joined = urls.join(
        F.broadcast(city_dim.select("name", F.col("code").alias("city_code"))),
        "name",
    )
    reachable = joined.join(
        pages.select(F.col("url")), "url", "left_semi"
    ).select("url", "city_code")
    static_seeds = local_frame(
        cities.sparkSession, CITY_SEEDS_STATIC, "url string, city_code string"
    )
    return static_seeds.unionByName(reachable)

"""Deterministic synthetic web generator (SURVEY.md §7 step 0).

Generates the Common-Crawl-shaped pages table ``(url, warc_ts, html binary,
text, lang)`` plus a ``seeds`` table of companies, with one page kind per
extraction operator / admission-predicate branch (FIXTURES.md §1). Fully
deterministic: every choice derives from blake2b of the company index — no
wall clock, no RNG state. Scales distributively via ``mapInPandas`` over
``spark.range`` so the bench corpus (500k+ pages) never materializes on the
driver.

Company variants (i-th company, ``variant = det(i, "variant") % 10``):
  0  homepage with ≥2 mailto anchors           → mailto>1 short-circuit
  1  contact ANCHOR named Контакты/feedback    → dataLink path (priority 1)
  2  contact-like hrefs only                   → F8∘F4 path (priority 2)
  3  no emails, no contact links               → email_finded = false
  4  homepage 301-redirects to real homepage   → F11 redirect admission
  5  dead seed (no pages row)                  → bad_url error path
  6  redirect cycle a→b→a                      → cycle detection
  7  plain-text email on homepage only         → emails-nonempty flags
  8  like 1 + Mail.ru-suffixed email (dropped) → quirk Q10
  9  like 2 with two contact pages sharing an email → global dedup K5
A slice of companies shares one hot host (skew testing), and the seeds
table includes null/blank/social/duplicate site_urls for F9 pruning.
"""

from __future__ import annotations

import hashlib
import os
from datetime import datetime, timedelta, timezone
from typing import Iterator, List, Tuple

EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

# % of companies on one shared hot host (FIXTURES.md §6 skew). Env-
# overridable so scaling runs can generate a heavier zipf head (the
# constant is read at import time in every Python worker — set it
# BEFORE the SparkSession launches so executors inherit it).
HOT_HOST_PCT = int(os.environ.get("SPARK_GRAFT_HOT_PCT", "20"))


def det(*parts) -> int:
    """Deterministic 64-bit value from parts."""
    h = hashlib.blake2b("|".join(str(p) for p in parts).encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big")


def company_host(i: int) -> str:
    if det(i, "hot") % 100 < HOT_HOST_PCT:
        return "hot-portal.ru"
    tld = ["ru", "com", "org"][det(i, "tld") % 3]
    return f"firm{i}.example.{tld}"


def company_home(i: int) -> str:
    host = company_host(i)
    if host == "hot-portal.ru":
        return f"http://hot-portal.ru/firm{i}"
    return f"http://{host}"


def _noise_links(i: int, home: str) -> str:
    """Href noise exercising every F8 branch (FIXTURES.md §1)."""
    long_tail = "/contact-" + "x" * 80
    return (
        '<a href="/logo.png">logo</a>'
        '<a href="/app.js">js</a>'
        '<a href="/style.css">css</a>'
        '<a href="http://facebook.com/firm">fb</a>'
        '<a href="http://twitter.com/firm">tw</a>'
        f'<a href="http://other{i}.net/contact">offhost</a>'
        '<a href="//cdn.example.com/contact.html">protorel</a>'
        '<a href="/list?page=2">query-no-topmenu</a>'
        '<a href="/about.html?x=1&topmenu=yes">query-topmenu</a>'
        '<a href="/item/12345/">digits</a>'
        f'<a href="{long_tail}">toolong</a>'
        '<a href="/news.html">news</a>'
        f'<a href="{home}/">self</a>'
    )


def _email_set(i: int) -> Tuple[str, str, str]:
    """(primary, secondary, cyrillic-ish) — deterministic per company."""
    return (
        f"info@firm{i}.example.ru",
        f"sales.dept+{i % 7}@firm{i}.example.ru",
        f"office{i}@почта{i}.example.ru",  # Cyrillic domain label: \\w matches
    )


_FILLER_SENTENCE = (
    "Компания выполняет работы по договору в установленный срок и несёт "
    "гарантийные обязательства перед заказчиком согласно регламенту. "
)


def _filler(i: int, kb: int) -> str:
    """Deterministic page bulk: prose (no emails, no hrefs) + noise links
    that the F8 chain must reject at volume. Sized ≈ ``kb`` KiB — makes the
    extract/regex stage realistically page-weight-bound for benchmarks."""
    if kb <= 0:
        return ""
    n_links = max(4, kb // 2)
    links = "".join(
        f'<a href="/img{i % 7}-{j}.png">p{j}</a>'
        f'<a href="/item/{1000 + j}/">i{j}</a>'
        for j in range(n_links // 2)
    )
    n_sent = max(1, (kb * 1024 - len(links)) // len(_FILLER_SENTENCE.encode()))
    return "<p>" + _FILLER_SENTENCE * n_sent + "</p>" + links


def generate_company_pages(i: int, filler_kb: int = 0) -> Tuple[List[dict], dict]:
    """Returns (pages, seed_row). Page dict keys: url, status, location,
    html (str), lang."""
    variant = det(i, "variant") % 10
    home = company_home(i)
    host = company_host(i)
    e1, e2, e3 = _email_set(i)
    lang = "ru" if det(i, "lang") % 3 else "en"
    pages: List[dict] = []

    # hrefs are root-relative; the reference resolves them against
    # getBaseUrl(seed) = scheme://authority, so on the shared hot host the
    # path must carry the firm prefix to stay company-unique.
    prefix = f"/firm{i}" if host == "hot-portal.ru" else ""
    contact_path = prefix + ["/contact.html", "/kontakty/", "/about-us/", "/feedback"][
        det(i, "cpath") % 4
    ]
    branch_path = prefix + "/kontakt-branch.html"
    contact_url = f"http://{host}" + contact_path

    contact_html = (
        f"<html><head><title>Контакты фирмы {i}</title></head><body>"
        f'<h1>Контакты</h1><a href="mailto:{e1}">написать</a>'
        f"<p>Почта отдела: {e2}</p>"
        + (f"<p>old: legacy{i}@Mail.ru</p>" if variant == 8 else "")
        + (f"<p>также {e3}</p>" if det(i, "e3") % 4 == 0 else "")
        + (f'<a href="mailto:{e1}?subject=Заявка с сайта">заявка</a>' if i % 3 == 0 else "")
        + _filler(i + 10**9, filler_kb)
        + f"</body></html>"
    )

    base_links = _noise_links(i, home)
    body_bits = [f"<h1>Фирма {i}</h1><p>Адрес: г. Город-{i % 50}, ул. Ленина, {i % 200}</p>"]

    if variant == 0:
        body_bits.append(
            f'<a href="mailto:{e1}">почта</a><a href="mailto:{e2}">ещё почта</a>'
        )
    elif variant in (1, 8):
        body_bits.append(f'<a href="{contact_path}">Контакты</a>')
    elif variant in (2, 9):
        body_bits.append(f'<a href="{contact_path}">стр</a>')  # non-contact NAME
        if variant == 9:
            body_bits.append(f'<a href="{branch_path}">филиал</a>')
    elif variant == 3:
        body_bits.append("<p>Просто текст без почты.</p>")
    elif variant == 7:
        body_bits.append(f"<p>Пишите нам: {e1}</p>")
    else:  # 4,5,6 — homepage content for the redirect target / absent
        body_bits.append(f'<a href="{contact_path}">Контакты</a>')

    home_html = (
        f"<html><head><title>Firm {i}</title></head><body>"
        + "".join(body_bits)
        + base_links
        + _filler(i, filler_kb)
        + "</body></html>"
    )

    if variant == 4:
        real = home + "/index-real.html"
        # two thirds redirect via a RELATIVE Location (incl. dot segments) —
        # the reference resolves with new Uri(base, rel) (RFC 3986), so
        # "../index-real.html" from the homepage lands on `real`
        relkind = det(i, "relredir") % 3
        loc = [real, "../index-real.html", "./index-real.html"][relkind]
        pages.append({"url": home, "status": 301, "location": loc, "html": None, "lang": lang})
        pages.append({"url": real, "status": 200, "location": None, "html": home_html, "lang": lang})
    elif variant == 5:
        pass  # dead seed: no row at all
    elif variant == 6:
        mid = home + "/step"
        pages.append({"url": home, "status": 302, "location": mid, "html": None, "lang": lang})
        pages.append({"url": mid, "status": 302, "location": home, "html": None, "lang": lang})
    else:
        pages.append({"url": home, "status": 200, "location": None, "html": home_html, "lang": lang})

    if variant in (1, 2, 8, 9, 4, 6):
        pages.append({"url": contact_url, "status": 200, "location": None, "html": contact_html, "lang": lang})
    if variant == 9:
        # second contact page sharing e1 → exercises global email dedup
        pages.append({
            "url": f"http://{host}" + branch_path, "status": 200, "location": None,
            "html": f'<html><body><a href="mailto:{e1}">mail</a></body></html>',
            "lang": lang,
        })

    seed = {
        "company_id": i,
        "site_url": home,
        "bad_url": False,
        "email_processed": False,
        "email_finded": False,
    }
    return pages, seed


def extra_bad_seeds(n: int) -> List[dict]:
    """F9-prunable seeds: null / blank / social / already-flagged / dup."""
    out = [
        {"company_id": n + 1, "site_url": None, "bad_url": False, "email_processed": False, "email_finded": False},
        {"company_id": n + 2, "site_url": "   ", "bad_url": False, "email_processed": False, "email_finded": False},
        {"company_id": n + 3, "site_url": "http://vk.com/firm", "bad_url": False, "email_processed": False, "email_finded": False},
        {"company_id": n + 4, "site_url": company_home(0), "bad_url": True, "email_processed": False, "email_finded": False},
        {"company_id": n + 5, "site_url": company_home(0), "bad_url": False, "email_processed": False, "email_finded": False},  # dup of company 0
        {"company_id": n + 6, "site_url": "http://www.abordageshop.ru", "bad_url": False, "email_processed": False, "email_finded": False},
    ]
    return out


def page_row(p: dict, with_text: bool = True) -> dict:
    """Final pages-table row with warc_ts/text/binary html derived
    deterministically. ``text`` = InnerText of the html (the byte-identical
    extracted-text digest target); redirect rows carry the location in a
    ``redirect_to`` column with empty html. ``with_text=False`` skips the
    DOM parse for bench corpora (the crawl reads html, never text)."""
    html_str = p["html"] or ""
    if with_text and html_str:
        from ..refsem.htmlparse import parse_html

        text = parse_html(html_str).inner_text()
    else:
        text = ""
    ts = EPOCH + timedelta(seconds=det(p["url"], "ts") % (365 * 24 * 3600))
    return {
        "url": p["url"],
        "warc_ts": ts,
        "html": html_str.encode("utf-8"),
        "text": text,
        "lang": p["lang"],
        "status": p["status"],
        "redirect_to": p["location"],
    }


def build_corpus_local(n_companies: int):
    """Small-scale corpus for pytest: (pages_rows, seeds_rows)."""
    pages, seeds = [], []
    seen = set()
    for i in range(n_companies):
        ps, seed = generate_company_pages(i)
        for p in ps:
            if p["url"] not in seen:
                seen.add(p["url"])
                pages.append(page_row(p))
        seeds.append(seed)
    seeds.extend(extra_bad_seeds(n_companies))
    return pages, seeds


PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, "
    "status int, redirect_to string"
)
SEEDS_SCHEMA = (
    "company_id long, site_url string, bad_url boolean, "
    "email_processed boolean, email_finded boolean"
)


def build_corpus_spark(spark, n_companies: int, num_partitions: int = 32, filler_kb: int = 0):
    """Distributed generation: one task generates a contiguous company
    range; duplicate hot-host URLs can't collide across companies because
    every URL embeds its company index. Returns (pages_df, seeds_df)."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for b in batches:
            rows = []
            for i in b["id"]:
                ps, _ = generate_company_pages(int(i), filler_kb)
                rows.extend(page_row(p, with_text=(filler_kb == 0)) for p in ps)
            yield pd.DataFrame(
                rows,
                columns=["url", "warc_ts", "html", "text", "lang", "status", "redirect_to"],
            )

    def gen_seeds(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for b in batches:
            rows = [generate_company_pages(int(i))[1] for i in b["id"]]
            yield pd.DataFrame(
                rows,
                columns=["company_id", "site_url", "bad_url", "email_processed", "email_finded"],
            )

    base = spark.range(0, n_companies, numPartitions=num_partitions)
    pages_df = base.mapInPandas(gen, schema=PAGES_SCHEMA)
    seeds_df = base.mapInPandas(gen_seeds, schema=SEEDS_SCHEMA)
    return pages_df, seeds_df


# --------------------------------------------------------------------------
# Catalog-layout fixtures (H1-H8 extraction tests; FIXTURES.md §1 bullets 1-3)


def bizly_catalog_page() -> str:
    return (
        "<html><body>"
        '<div class="header">Услуги</div>'
        '<div class="item">Ремонт: </div>'
        '<div class="item"><a href="/cat/remont-obuvi/">Ремонт обуви</a>'
        '<a href="/cat/remont-chasov/">Ремонт часов</a></div>'
        '<div class="header">Торговля</div>'
        '<div class="item">Магазины: </div>'
        '<div class="item"><a href="/cat/produkty/">Продукты</a></div>'
        "</body></html>"
    )


def bizly_company_page(page: int = 1, total_pages: int = 3) -> str:
    cards = []
    for k in range(2):
        cards.append(
            '<div class="company">'
            f'<a href="/company/{page}-{k}/">Компания {page}-{k}</a>'
            "<ul>"
            f'<li><i class="glyphicon glyphicon-map-marker"></i> ул. Мира, {k + page}</li>'
            f"<li><i class=\"glyphicon glyphicon-phone-alt\"></i> +7 495 000-{page}{k}</li>"
            '<li><i class="glyphicon glyphicon-time"></i> 9-18</li>'
            f'<li><i class="glyphicon glyphicon-share"></i> http://firm{page}{k}.example.ru</li>'
            "</ul></div>"
        )
    pag = '<div class="pagination">' + "".join(
        f'<a href="page-{p}/">{p}</a>' for p in range(1, total_pages + 1)
    ) + "</div>"
    return "<html><body>" + "".join(cards) + pag + "</body></html>"


def spravker_company_page() -> str:
    import base64

    b64 = base64.b64encode(b"http://spr-firm.example.com").decode()
    return (
        "<html><body>"
        '<div class="list-item hover">'
        '<a href="/org/1">пропуск</a><a href="/org/1-x">СправФирма</a>'
        '<div class="row"><div class="left">Адрес:</div><div class="right">пр. Победы, 1</div></div>'
        '<div class="row"><div class="left">Телефон:</div><div class="right">+7 812 111</div></div>'
        '<div class="row"><div class="left">Часы работы:</div><div class="right">10-19</div></div>'
        f'<div class="row"><div class="left">Сайт:</div><div class="right"><span data-link="{b64}">site</span></div></div>'
        "</div></body></html>"
    )


def jsprav_company_page() -> str:
    import base64

    b64 = base64.b64encode(b"http://jsp-firm.example.com").decode()
    return (
        "<html><body>"
        '<div class="org"><h3>ЙФирма</h3>'
        '<a href="/f/1">jsp-firm.example.com</a>'
        '<ul class="address"><li><p data-lnk="b\'' + b64 + "'\">"
        '<span class="nm">адрес:</span><span class="value">ул. Садовая, 3</span></p></li>'
        '<li><p><span class="nm">телефон:</span><span class="value">+7 343 222</span></p></li></ul>'
        '<ul class="address"><li><p><span class="nm">график (часы) работы:</span><span class="value">8-17</span></p></li></ul>'
        "</div>"
        '<div class="org"><h3>БезАдреса</h3><a href="/f/2">no-addr.example.com</a></div>'
        "</body></html>"
    )


_CITIES_STYLE = (
    "table-layout:fixed;font-size:10pt;font-family:arial,sans,sans-serif;"
    "width:0px;border-collapse:collapse;border:none"
)
_REGIONS_STYLE = (
    "table-layout:fixed;font-size:13px;font-family:arial,sans,sans-serif;"
    "border-collapse:collapse;border:none"
)


def statdata_cities_page() -> str:
    """H7 ``getCities`` fixture — statdata.ru-style sheet export: six
    fixed-style tables (code = table ordinal) of five cities each;
    height:21px rows; city name in the THIRD td, some prefixed ``г.``.
    The last table (code=6) carries real city names so the Code='6'
    slice is meaningful."""
    n_tables, cities_per_table = 6, 5
    real = ["Header", "Екатеринбург", "г.Казань", "Омск", "Пермь"]
    tables = []
    for t in range(1, n_tables + 1):
        rows = []
        for i in range(cities_per_table):
            name = real[i % len(real)] if t == n_tables else f"Город{t}-{i}"
            rows.append(
                f'<tr style="height:21px"><td>{t}.{i}</td><td>pop</td>'
                f"<td> {name} </td></tr>"
            )
        # a non-matching row and a short row (≤2 tds, skipped)
        rows.append('<tr><td>x</td><td>y</td><td>skip-me</td></tr>')
        rows.append('<tr style="height:21px"><td>a</td><td>b</td></tr>')
        tables.append(
            f'<table dir="ltr" style="{_CITIES_STYLE}">' + "".join(rows) + "</table>"
        )
    # a decoy table without the style attr
    decoy = '<table dir="ltr"><tr style="height:21px"><td>1</td><td>2</td><td>Декой</td></tr></table>'
    return "<html><body>" + decoy + "".join(tables) + "</body></html>"


def country_list_page() -> str:
    """H7 ``getCountryList`` fixture — ``table.country-list`` with a header
    row and 7-column body rows."""
    rows = [
        "<tr><th>#</th><th>Name</th><th>FName</th><th>Capital</th><th>Phone</th><th>Domain</th><th>Region</th></tr>",
        "<tr><td>1</td><td>Россия</td><td>Российская Федерация</td><td>Москва</td><td>+7</td><td>.ru</td><td>Европа</td></tr>",
        "<tr><td>2</td><td>Казахстан</td><td>Республика Казахстан</td><td>Астана</td><td>+7</td><td>.kz</td><td>Азия</td></tr>",
    ]
    return (
        '<html><body><table class="country-list">' + "".join(rows) + "</table>"
        "<table><tr><td>not-a-country</td></tr></table></body></html>"
    )


def russian_regions_page() -> str:
    """H7 ``getRussionRegionList`` fixture — 13px fixed-style table, NO
    header row (the reference iterates every tr)."""
    rows = [
        "<tr><td>66</td><td>Свердловская область</td></tr>",
        "<tr><td>16</td><td>Республика Татарстан</td></tr>",
        "<tr><td>55</td><td>Омская область</td></tr>",
    ]
    return (
        f'<html><body><table dir="ltr" style="{_REGIONS_STYLE}">'
        + "".join(rows)
        + "</table></body></html>"
    )


def russian_cities_page() -> str:
    """H7 ``getRussionCitiesList`` fixture — ``table#table2 dir=LTR``,
    header skipped, only 5-td rows kept."""
    rows = [
        "<tr><td>Name</td><td>Sub</td><td>Code</td><td>Region</td><td>Pop</td></tr>",
        "<tr><td>Екатеринбург</td><td>обл</td><td>66</td><td>Свердловская</td><td>1500000</td></tr>",
        "<tr><td>Казань</td><td>респ</td><td>16</td><td>Татарстан</td><td>1300000</td></tr>",
        "<tr><td>short-row</td><td>x</td></tr>",
        "<tr><td>Омск</td><td>обл</td><td>55</td><td>Омская</td><td>1100000</td></tr>",
    ]
    return (
        '<html><body><table id="table2" dir="LTR">' + "".join(rows) + "</table></body></html>"
    )


def jsprav_catalog_page() -> str:
    """H2 ``getNovCategoryLinks`` fixture — ``div.cats-list row`` blocks with
    ``h3>a`` roots and plain ``<a>`` leaves (incl. a ``show_all`` anchor —
    its nested fetch is a second extraction round in the Spark plan)."""
    col = "col-xs-12 col-sm-6 col-md-6 col-lg-4"
    return (
        "<html><body>"
        '<div class="cats-list row">'
        f'<div class="{col}">'
        "<h3><a href=\"/cat/uslugi/\">Услуги</a></h3>"
        '<a href="/cat/remont/">Ремонт</a>'
        '<a href="/cat/uborka/">Уборка</a>'
        '<a class="show_all" href="/cat/uslugi//all/">Показать все</a>'
        "</div>"
        f'<div class="{col}">'
        "<h3><a href=\"/cat/torgovlya/\">Торговля</a></h3>"
        '<a href="/cat/produkty/">Продукты</a>'
        "</div>"
        "</div>"
        '<div class="other"><a href="/x/">decoy</a></div>'
        "</body></html>"
    )


def spravker_catalog_page() -> str:
    """H3 ``getCategoryLinks`` fixture — ``a.header`` roots (exact class)."""
    return (
        "<html><body>"
        '<a class="header" href="/cats/avto/">Авто</a>'
        '<a class="header extra" href="/cats/decoy/">Не точный класс</a>'
        '<a class="header" href="/cats/stroika/">Стройка</a>'
        '<a href="/plain/">без класса</a>'
        "</body></html>"
    )


def encoding_probe_pages():
    """X9 ``getEncoding`` fixtures — one per quirk branch of Utils.fs:125-141."""
    return [
        ("http://enc.test/p1", '<html><head><meta charset="windows-1251"></head><body>x</body></html>'),
        ("http://enc.test/p2", "<html><head><meta charset=utf-8></head><body>x</body></html>"),
        ("http://enc.test/p3", '<html><head><META CHARSET="KOI8-R"/></head><body>x</body></html>'),
        # "charset =" (space before =): regex matches but the literal
        # find("charset=") misses → utf-8 (reference quirk)
        ("http://enc.test/p4", '<html><head><meta charset ="cp866"></head><body>x</body></html>'),
        ("http://enc.test/p5", "<html><head><title>no meta</title></head><body>x</body></html>"),
        ("http://enc.test/p6", '<html><head><meta name="viewport" charset="decoy"></head><body>x</body></html>'),
    ]


def robots_txt(agent: str = "*", disallow=(), allow=(), crawl_delay_s=None) -> str:
    """robots.txt fixture builder (north_rule gating tests)."""
    lines = [f"User-agent: {agent}"]
    lines += [f"Disallow: {p}" for p in disallow]
    lines += [f"Allow: {p}" for p in allow]
    if crawl_delay_s is not None:
        lines.append(f"Crawl-delay: {crawl_delay_s}")
    return "\n".join(lines) + "\n"


def jsprav_showall_page() -> str:
    """H2 nested show_all target — ``div.cat-item`` links; 'Ремонт' with
    the same (name, city_code, parent, href) as an already-listed leaf
    exercises the reference's in-list dedup (HtmlParsing.fs:72-81)."""
    return (
        "<html><body>"
        '<div class="cat-item"><a href="/cat/remont/">Ремонт</a></div>'
        '<div class="cat-item"><a href="/cat/santehnika/">Сантехника</a></div>'
        '<div class="cat-item"><a href="/cat/elektrika/">Электрика</a></div>'
        '<div class="other"><a href="/decoy/">декой</a></div>'
        "</body></html>"
    )


def spravker_subcats_page() -> str:
    """H3 nested target — ``div.subcats`` anchors (HtmlParsing.fs:103-117)."""
    return (
        "<html><body>"
        '<div class="subcats">'
        '<a href="/cats/avto/moyka/">Мойка</a>'
        '<a href="/cats/avto/servis/">Сервис</a>'
        "</div>"
        '<div class="plain"><a href="/x/">без</a></div>'
        "</body></html>"
    )

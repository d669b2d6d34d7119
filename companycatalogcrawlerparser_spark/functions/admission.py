"""F8 — the 13-stage frontier-admission chain as a per-page array
expression (``Crawler.fs:135-187``; SURVEY.md §2.2 F8).

The reference runs the chain over one page's href list, so it runs here
over the page's ``hrefs`` array: every stage is a ``filter`` or
``transform`` on the list, and the two ``Seq.distinct`` passes are
``DEDUP`` steps of :func:`~..operators.extract.with_lists`. Nothing
crosses a row — no aggregation, no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.extract import DEDUP, PAGE_BASE, PAGE_HOST, indexed, with_lists
from .predicates import (
    count_substring,
    is_contacts_page,
    is_end_with_digits,
    is_not_image_script_css_ext,
    not_social_network,
    start_http,
)


def admit_frontier(df: DataFrame) -> DataFrame:
    """Adds the list column ``admitted`` (:func:`admitted_list`) to the
    token rows ``df``."""
    return with_lists(df, {"admitted": admitted_list()})


def admitted_list() -> list:
    """The page's admitted frontier URLs as list steps
    (``array<struct<seq, v>>``): the URLs ``v`` over its ``hrefs`` array,
    each with ``seq``, the document position of its first occurrence (the
    crawl-order key), resolved against the row's ``base_url``."""
    base = F.col(PAGE_BASE)

    def raw_ok(x):
        contacts = is_contacts_page(x)
        ends_html = x.endswith(".html") | x.endswith(".htm")
        return (
            (F.length(x) >= 5)
            & ~F.lower(x).startswith("mailto:")
            & is_not_image_script_css_ext(x)
            & (contacts | (x.contains("?") & x.contains("topmenu")))
            & (
                ends_html
                | (
                    ~ends_html
                    & (F.substring(x, -4, 1) != ".")
                    & (F.substring(x, -5, 1) != ".")
                )
                | contacts
            )
            & (
                ends_html
                | x.endswith("/")
                | x.startswith("/")
                | start_http(x)
                | contacts
            )
        )

    def resolved(x):
        """relative→absolute (inline twin of convertUrl, Crawler.fs:171-180)"""
        return (
            F.when(
                ~start_http(x) & x.startswith("/") & ~x.startswith("//"),
                F.concat(F.rtrim(base, F.lit("/")), x),
            )
            .when(
                ~start_http(x) & ~x.startswith("/") & ~x.startswith("//"),
                F.concat(base, x),
            )
            .otherwise(x)
        )

    host = F.col(PAGE_HOST)
    https_base_len = F.length(F.replace(base, F.lit("http://"), F.lit("https://")))

    def slashes(u):
        return F.when(
            u.startswith("//"), F.replace(u, F.lit("//"), F.lit("http://"))
        ).otherwise(u)

    def url_ok(u):
        return (
            (count_substring(u, "://") == 1)
            & ~((F.length(u) == F.length(base)) | (F.length(u) == https_base_len))
            & ~u.endswith("//")
            & not_social_network(u)
            & ~is_end_with_digits(u)
            & (F.length(u) <= 80)
        )

    def with_v(e, v):
        return F.struct(e["seq"].alias("seq"), v.alias("v"))

    def admitted(lst):
        same_host = F.filter(
            F.transform(lst, lambda e: with_v(e, resolved(e["v"]))),
            lambda e: (host == "") | (F.instr(e["v"], host) > 0),  # .NET ''.Contains = true
        )
        return F.filter(
            F.transform(same_host, lambda e: with_v(e, slashes(e["v"]))),
            lambda e: url_ok(e["v"]),
        )

    # Seq.distinct #1 on the raw hrefs, #2 on the admitted URLs — each the
    # first occurrence within the page
    return [
        F.filter(indexed("hrefs"), lambda e: raw_ok(e["v"])),
        DEDUP,
        admitted,
        DEDUP,
    ]

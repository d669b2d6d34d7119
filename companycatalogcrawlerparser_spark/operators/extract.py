"""Fetch+extract stage (SURVEY.md §2.11 UDF surface) and the page-scoped
token lists built on it.

The extractor turns fetched html into ONE compact row per page carrying
token ARRAYS (href candidates, anchor pairs, plain-email matches). The
crawl runs :func:`extract_tokens_native` (Java regexes, no Python);
:func:`extract_tokens_meta` is its Arrow twin over the refsem regexes.

Why arrays instead of one-row-per-token: a 100k-page round yields ~10M
token rows; shipping them row by row and re-reading them from the
checkpoint for every consumer measured as the dominant cost. Per-page
arrays keep document order as array order (the element index is ``seq``)
and make the checkpoint compact.

Every reference dedup here is scoped to one page (``Seq.distinct`` over
one page's matches), so each is an array expression on the page's token
row — no aggregation, no shuffle. The lists are ``array<struct<seq, v>>``
columns, described as steps (:func:`mailto_list`,
:func:`page_email_list`, :func:`contact_anchor_list`) and built together
by :func:`with_lists`; the exploded forms (:func:`mailto_emails`,
:func:`regex_emails`, :func:`contact_anchor_links`) ``inline`` them once.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.canon import convert_url, host_token
from ..functions.predicates import (
    is_not_image_script_css_ext,
    not_social_network,
)
from ..refsem.extract import CONTACT_ANCHOR_WORDS


def extract_tokens_meta(fetched: DataFrame) -> DataFrame:
    """ONE streaming pass over the fetch join: html flows straight through
    the Arrow UDTF and never materializes anywhere — the output carries the
    fetch METADATA passthrough (everything but html) + ``has_html`` (the
    IsNullOrWhiteSpace gate, Crawler.fs:326 — Python ``strip``, matching
    the refsem oracle) + the per-page token arrays.

    Rationale: checkpointing the joined html (30 KB × frontier) was the
    dominant core-count-independent cost at bench scale — 16 GB of block
    manager writes per round for bytes every consumer except the extract
    immediately drops. This variant makes the post-fetch state per page
    ~1-2 KB of token arrays, so the round checkpoint is metadata-sized.
    """
    import pandas as pd

    from pyspark.sql import types as T

    meta_fields = [f for f in fetched.schema.fields if f.name != "html"]
    meta_names = [f.name for f in meta_fields]
    out_schema = T.StructType(
        meta_fields
        + [
            T.StructField("has_html", T.BooleanType()),
            T.StructField("hrefs", T.ArrayType(T.StringType())),
            T.StructField("anchor_names", T.ArrayType(T.StringType())),
            T.StructField("anchor_urls", T.ArrayType(T.StringType())),
            T.StructField("emails", T.ArrayType(T.StringType())),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from ..refsem.extract import (
            ANCHOR_RE,
            MULTIPLE_EMAIL_RE,
            _href_match_values,
        )

        for b in batches:
            out = b[meta_names].copy()
            hh, hr, an, au, em = [], [], [], [], []
            for html in b["html"]:
                text = (
                    bytes(html).decode("utf-8", errors="replace")
                    if html is not None
                    else ""
                )
                if text.strip() == "":
                    hh.append(False)
                    hr.append([]); an.append([]); au.append([]); em.append([])
                    continue
                anchors = ANCHOR_RE.findall(text)  # [(url, name), ...]
                hh.append(True)
                hr.append(_href_match_values(text))
                au.append([a[0] for a in anchors])
                an.append([a[1] for a in anchors])
                em.append([m.group(0) for m in MULTIPLE_EMAIL_RE.finditer(text)])
            out["has_html"] = hh
            out["hrefs"] = hr
            out["anchor_names"] = an
            out["anchor_urls"] = au
            out["emails"] = em
            yield out

    return fetched.mapInPandas(run, out_schema)


# Java-regex twins of refsem.extract's patterns (dialect pinned):
# - (?d) = UNIX_LINES so `.` excludes ONLY \n, matching Python/.NET default
#   (Java's default `.` also excludes \r and unicode line separators);
# - (?U) makes \w Unicode like .NET/Python (Java default \w is ASCII);
# - the anchor regex carries (?is) = IgnoreCase|Singleline per the
#   reference (Crawler.fs:54-57); the href regex has NO flags
#   (RegexOptions.None, Crawler.fs:76,126,156).
_HREF_PAT_JAVA = "(?d)(?:href)=[\"|']?(.*?)[\"|'|>]+"
_ANCHOR_PAT_JAVA = "(?is)<a.*?href=[\"'](.*?)[\"'].*?>(.*?)</a>"
_EMAIL_PAT_JAVA = r"(?U)\w+([-+.]\w+)*@\w+([-.]\w+)*\.\w+([-.]\w+)*"


def _href_trims(v):
    """The .NET char-set trims of Crawler.fs:129,157 — ``ltrim``/``rtrim``
    with a trim STRING are character-set trims in Spark too, so the quirk
    (Q3) maps natively: TrimStart("href=") eats {h,r,e,f,=} runs, etc."""
    t = F.ltrim(v, F.lit("href="))
    t = F.rtrim(F.ltrim(t, F.lit('"')), F.lit('"'))
    return F.rtrim(t, F.lit('">'))


def extract_tokens_native(fetched: DataFrame) -> DataFrame:
    """JVM-native twin of :func:`extract_tokens_meta` — identical output
    schema, zero Python: the html string never leaves the JVM (no Arrow
    transfer). This is the extractor the crawl runs.

    Measured rationale: the Arrow path moves the full decompressed html
    (30 KB × frontier, ~16 GB/round at bench scale) through a pipe into
    Python workers — memory-bandwidth-bound and nearly core-count-
    independent. Native extraction removes that transfer entirely.

    Dialect risk is pinned three ways: the flag choices above, the
    crawl-equality pytest suite (engine vs pure-Python oracle end-to-end),
    and the driver harness's crawl_trace / x10 / x11 / f8 hash rows, which
    compare THIS path against the Python-regex refsem oracle per row.
    """
    text = F.col("html").cast("string")
    has_html = F.coalesce(~text.rlike(r"(?U)^\s*$"), F.lit(False))
    empty = F.array().cast("array<string>")

    def all_matches(pat: str, group: int):
        return F.coalesce(
            F.regexp_extract_all(text, F.lit(pat), F.lit(group)), empty
        )

    hrefs = F.transform(all_matches(_HREF_PAT_JAVA, 0), _href_trims)
    # ONE anchor pass over the full html (group 0), then pull groups 1/2
    # from the short matched substrings. Re-matching the pattern against
    # exactly its own full match reproduces the same lazy-quantifier
    # spans (no lookarounds, leftmost start, identical prefix), so the
    # groups are byte-identical to a second full scan — oracle rows pin
    # it. The struct array lives in its OWN projection: referencing it
    # twice from the outer select is a cheap array-field access, and
    # CollapseProject won't inline (and so duplicate) a non-cheap HOF.
    anchors = F.transform(
        all_matches(_ANCHOR_PAT_JAVA, 0),
        lambda m: F.struct(
            F.regexp_extract(m, _ANCHOR_PAT_JAVA, 1).alias("url"),
            F.regexp_extract(m, _ANCHOR_PAT_JAVA, 2).alias("name"),
        ),
    )
    emails = all_matches(_EMAIL_PAT_JAVA, 0)

    meta = [c for c in fetched.columns if c != "html"]
    gate = lambda col: F.when(has_html, col).otherwise(empty)  # noqa: E731
    staged = fetched.select(
        *meta,
        has_html.alias("has_html"),
        gate(hrefs).alias("hrefs"),
        F.when(has_html, anchors).otherwise(
            F.array().cast("array<struct<url:string,name:string>>")
        ).alias("__anchors"),
        gate(emails).alias("emails"),
    )
    return staged.select(
        *meta,
        "has_html",
        "hrefs",
        F.col("__anchors.name").alias("anchor_names"),
        F.col("__anchors.url").alias("anchor_urls"),
        "emails",
    )


def indexed(arr, value=lambda x: x) -> Column:
    """``array<T>`` → ``array<struct<seq, v>>``: ``seq`` is the element's
    index (its document position), ``v`` is ``value`` of the element."""
    return F.transform(
        arr, lambda x, i: F.struct(i.alias("seq"), value(x).alias("v"))
    )


# The extractor's token arrays: the page lists are built from them, and
# :func:`with_lists` drops them once the lists exist.
TOKEN_ARRAYS = ("hrefs", "anchor_names", "anchor_urls", "emails")

# Page values that list steps read inside their lambdas, bound once per
# row by :func:`with_lists` (a lambda would recompute them per element):
# the row's ``base_url`` with a trailing slash, and its host token.
PAGE_BASE = "__base"
PAGE_HOST = "__host"

# A list's steps: its raw ``array<struct<seq, v>>`` Column over the token
# row, then ``DEDUP`` passes and Column → Column functions in order.
DEDUP = "dedup"


def with_lists(tokens: DataFrame, lists: dict) -> DataFrame:
    """Adds the list columns ``lists`` ({name: steps}) to ``tokens`` in
    one projection per dependency level, and drops :data:`TOKEN_ARRAYS`.

    The first level binds :data:`PAGE_BASE` and :data:`PAGE_HOST`; the
    next builds every raw list and applies the functions up to its first
    ``DEDUP``. Each ``DEDUP`` is F# ``Seq.distinct`` on the list (the
    first element of each ``v``, in array order, so ``seq`` is the first
    occurrence's position) and takes two levels: the ``v`` values are
    bound in their own projection, then read back as ``values[i]``
    together with the functions up to the next ``DEDUP``. Referenced
    twice, the bound array is not inlined into the per-element lambda by
    CollapseProject, which would rebuild it for every element (``x.v``
    alone would be one reference, and ``name.v`` counts as cheap and is
    inlined at any count); the same rule keeps each level's lists from
    being inlined into the next."""
    keep = [c for c in tokens.columns if c not in TOKEN_ARRAYS and c not in lists]
    carry = keep + [PAGE_BASE, PAGE_HOST]
    raw_base = F.col("base_url")
    base = F.when(raw_base.endswith("/"), raw_base).otherwise(
        F.concat(raw_base, F.lit("/"))
    )
    df = tokens.select(
        *tokens.columns, base.alias(PAGE_BASE), host_token(base).alias(PAGE_HOST)
    )
    pending = {name: list(steps[1:]) for name, steps in lists.items()}
    level = {name: steps[0] for name, steps in lists.items()}
    while True:
        for name, steps in pending.items():
            while steps and steps[0] is not DEDUP:
                level[name] = steps.pop(0)(level[name])
        dedup = [name for name, steps in pending.items() if steps]
        df = df.select(
            *(carry if dedup else keep), *[c.alias(name) for name, c in level.items()]
        )
        if not dedup:
            return df
        df = df.select(
            *carry,
            *lists,
            *[F.transform(n, lambda x: x["v"]).alias(f"__{n}_v") for n in dedup],
        )
        level = {name: F.col(name) for name in lists}
        for name in dedup:
            pending[name].pop(0)
            level[name] = _first_occurrences(name)


def _first_occurrences(name: str) -> Column:
    """The elements of the list column ``name`` whose ``v`` is the first
    of its value, read through the bound values ``__<name>_v``."""
    vals = F.col(f"__{name}_v")
    return F.filter(
        name, lambda x, i: F.array_position(vals, F.element_at(vals, i + 1)) == i + 1
    )


def mailto_list() -> list:
    """X11 — ``searchMailToResults`` (Crawler.fs:125-133) as list steps:
    href values that start with ``mailto:`` (case-insensitive),
    lowercased, prefix removed with Replace-all semantics, distinct per
    page."""
    hits = F.filter(
        indexed("hrefs", F.lower), lambda x: x["v"].startswith("mailto:")
    )
    emails = F.transform(
        hits,
        lambda x: F.struct(
            x["seq"].alias("seq"),
            F.replace(x["v"], F.lit("mailto:"), F.lit("")).alias("v"),
        ),
    )
    return [emails, DEDUP]


def page_email_list() -> list:
    """Plain-text email matches as list steps: per-page distinct,
    ``Mail.ru`` suffix dropped case-sensitively AFTER distinct (quirk
    Q10, Crawler.fs:334-337)."""
    return [
        indexed("emails"),
        DEDUP,
        lambda lst: F.filter(lst, lambda x: ~x["v"].endswith("Mail.ru")),
    ]


def contact_anchor_list() -> list:
    """H10 ∘ C2 — ``FindLinksRegExp`` + contact-name filter
    (Crawler.fs:51-63, 346-353) as list steps: converted same-host urls in
    document order of the first occurrence of each (name, url) pair."""
    base = F.col(PAGE_BASE)
    host = F.col(PAGE_HOST)

    def named(name):
        low_name = F.lower(name)
        hit = None
        for w in CONTACT_ANCHOR_WORDS:
            cond = low_name.contains(w)
            hit = cond if hit is None else (hit | cond)
        return hit

    # the name and url filters read only the pair, so they commute with
    # Seq.distinct on the (name, url) PAIR; the cheap name filter runs
    # first, so only contact-named anchors are converted and matched
    named_pairs = F.filter(
        indexed(
            F.arrays_zip(
                F.col("anchor_names").alias("name"),
                F.col("anchor_urls").alias("href"),
            )
        ),
        lambda x: named(x["v"]["name"]),
    )
    pairs = F.filter(
        F.transform(
            named_pairs,
            lambda x: F.struct(
                x["seq"].alias("seq"),
                F.struct(
                    x["v"]["name"].alias("name"),
                    convert_url(x["v"]["href"], base).alias("url"),
                ).alias("v"),
            ),
        ),
        lambda x: ((host == "") | (F.instr(x["v"]["url"], host) > 0))
        & not_social_network(x["v"]["url"])
        & is_not_image_script_css_ext(x["v"]["url"]),
    )
    return [
        pairs,
        DEDUP,
        lambda lst: F.transform(
            lst, lambda x: F.struct(x["seq"].alias("seq"), x["v"]["url"].alias("v"))
        ),
    ]


def inline_list(df: DataFrame, name: str, value_alias: str) -> DataFrame:
    """One row per element of the list column ``name``: (company_id,
    page_url, <value_alias>, seq).

    The generator reads a renaming ``transform`` of the list, not the bare
    column: for a bare column Spark infers a ``size(list) > 0`` filter and
    pushes it below the projections, where it would rebuild the whole list
    expression, bound values included, a second time."""
    rows = F.transform(
        name, lambda x: F.struct(x["v"].alias(value_alias), x["seq"].alias("seq"))
    )
    return df.select("company_id", "page_url", F.inline(rows))


def mailto_emails(tokens: DataFrame) -> DataFrame:
    """:func:`mailto_list`, one row per email."""
    return inline_list(with_lists(tokens, {"mailto": mailto_list()}), "mailto", "email")


def regex_emails(tokens: DataFrame) -> DataFrame:
    """:func:`page_email_list`, one row per email."""
    return inline_list(
        with_lists(tokens, {"page_emails": page_email_list()}), "page_emails", "email"
    )


def contact_anchor_links(tokens: DataFrame) -> DataFrame:
    """:func:`contact_anchor_list`, one row per link."""
    return inline_list(
        with_lists(tokens, {"contact_anchors": contact_anchor_list()}),
        "contact_anchors",
        "url",
    )

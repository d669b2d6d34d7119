"""URL canonicalization — native column expressions (north_rule).

Canonical form (docs/SEMANTICS.md §1): lowercase scheme and host, strip the
fragment, strip the default port (80/http, 443/443), sort query parameters
lexicographically, normalize an empty path to ``/``, keep userinfo and
non-default ports. The url_seen table keys on it
(``operators.urlseen.seen_key``).

Also: the reference's own URL pieces as native exprs — ``getBaseUrl`` (X2,
``Utils.fs:111-114``), ``getHost`` host-token w/ quirk Q2 (X3,
``Utils.fs:116-123``), ``convertUrl`` w/ quirk Q1 (X1, ``Crawler.fs:41-49``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ^scheme://userinfo@host:port/path?query#fragment
_URL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://(?:([^/?#@]*)@)?([^/?#:]*)(?::([0-9]+))?([^?#]*)(?:\?([^#]*))?(?:#.*)?$"


def _part(url: Column, group: int) -> Column:
    return F.regexp_extract(url, _URL_RE, group)


def scheme(url: Column) -> Column:
    return F.lower(_part(url, 1))


def userinfo(url: Column) -> Column:
    return _part(url, 2)


def hostname(url: Column) -> Column:
    return F.lower(_part(url, 3))


def port(url: Column) -> Column:
    return _part(url, 4)


def path(url: Column) -> Column:
    return _part(url, 5)


def query(url: Column) -> Column:
    return _part(url, 6)


def canonicalize_url(url: Column) -> Column:
    """Canonical URL per docs/SEMANTICS.md §1. Null-safe: a string that does
    not parse as scheme://… canonicalizes to itself (trimmed)."""
    sch = scheme(url)
    ui = userinfo(url)
    host = hostname(url)
    prt = port(url)
    pth = path(url)
    qry = query(url)

    default_port = F.when(sch == "http", F.lit("80")).when(
        sch == "https", F.lit("443")
    ).otherwise(F.lit(""))
    keep_port = (prt != "") & (prt != default_port)

    sorted_query = F.array_join(F.array_sort(F.split(qry, "&")), "&")

    rebuilt = F.concat(
        sch,
        F.lit("://"),
        F.when(ui != "", F.concat(ui, F.lit("@"))).otherwise(F.lit("")),
        host,
        F.when(keep_port, F.concat(F.lit(":"), prt)).otherwise(F.lit("")),
        F.when(pth == "", F.lit("/")).otherwise(pth),
        F.when(qry != "", F.concat(F.lit("?"), sorted_query)).otherwise(F.lit("")),
    )
    return F.when(sch != "", rebuilt).otherwise(F.trim(url))


def canonical_host(url: Column) -> Column:
    """Full lowercased host — the politeness/partitioning key. NOT the
    reference's quirky host token (see :func:`host_token`)."""
    return hostname(url)


# --------------------------------------------------------------------------
# Reference-quirk URL pieces (X1-X3)


def base_url(url: Column) -> Column:
    """X2 ``getBaseUrl`` — scheme://authority, lowercased scheme+host,
    default port stripped (mirrors .NET ``Uri.GetLeftPart(Authority)``)."""
    sch = scheme(url)
    ui = userinfo(url)
    host = hostname(url)
    prt = port(url)
    default_port = F.when(sch == "http", F.lit("80")).when(
        sch == "https", F.lit("443")
    ).otherwise(F.lit(""))
    keep_port = (prt != "") & (prt != default_port)
    return F.concat(
        sch,
        F.lit("://"),
        F.when(ui != "", F.concat(ui, F.lit("@"))).otherwise(F.lit("")),
        host,
        F.when(keep_port, F.concat(F.lit(":"), prt)).otherwise(F.lit("")),
    )


def host_token(url: Column) -> Column:
    """X3 ``getHost`` with quirk Q2: char-set-trim leading {w,.} from the
    lowercased host, then strip the final dot-segment when the last '.' is
    at index > 0. The same-host check is substring containment of this
    token (F7)."""
    h = F.ltrim(F.lower(_part(url, 3)), F.lit("w."))  # char-set trim {w, .}
    last_dot = F.length(h) - F.length(F.substring_index(h, ".", -1)) - 1
    # LastIndexOf(".") > 0 → strip from there; else keep
    has_dot = F.instr(h, ".") > 0
    stripped = F.substring(h, F.lit(1), last_dot)
    return F.when(has_dot & (last_dot > 0), stripped).otherwise(h)


def convert_url(x: Column, base: Column) -> Column:
    """X1 ``convertUrl`` with quirk Q1 (Replace-all ``//``→``http://``)."""
    starts_http = x.startswith("http://") | x.startswith("https://")
    starts_slash = x.startswith("/")
    starts_2slash = x.startswith("//")
    resolved = (
        F.when(~starts_http & starts_slash & ~starts_2slash,
               F.concat(F.rtrim(base, F.lit("/")), x))
        .when(~starts_http & ~starts_slash & ~starts_2slash, F.concat(base, x))
        .otherwise(x)
    )
    return F.when(
        resolved.startswith("//"), F.replace(resolved, F.lit("//"), F.lit("http://"))
    ).otherwise(resolved)


def translit_cyrillic_to_latin(col: Column) -> Column:
    """X6 ``translitCyrillicToLatin`` (``Utils.fs:51-66``) as a chained
    ``replace`` — safe because every source char is Cyrillic (or '-'/' ')
    and every output is ASCII, so replacements cannot cascade. Same 68-pair
    map as the refsem oracle.

    Divergence from the reference ON PURPOSE: the F# ``List.find`` raises
    on an unmapped character (killing the whole run), while a chained
    replace passes it through. Callers that synthesize URLs must gate on
    :func:`translit_mappable` first so unmapped names are DROPPED (set
    semantics) rather than mistranslated into a URL the reference could
    never produce — see ``plans/catalog.synthesize_city_seeds``."""
    from ..refsem.strings import _TRANSLIT

    expr = col
    for src, dst in _TRANSLIT.items():
        expr = F.replace(expr, F.lit(src), F.lit(dst))
    return expr


def translit_mappable(col: Column) -> Column:
    """True iff every character of ``col`` is in the X6 translit domain
    (Cyrillic letters, ``ё``/``Ё``, space, dash) — i.e. the reference's
    ``List.find`` would succeed for every char. Rows failing this are the
    ones the reference would CRASH on; the engine drops/flags them."""
    return col.rlike(r"^[а-яА-ЯёЁ -]*$")


# NOTE `[META|meta]` is a CHARACTER CLASS in the reference (quirk) —
# reproduced verbatim from refsem.strings._META_RE.
_META_CHARSET_RE = (
    "<[META|meta](?!\\s*(?:name|value)\\s*=)[^>]*?charset\\s*=[\\s\"']*"
    "[a-zA-Z0-9-]+[\\s\"'/]*>"
)


def sniff_encoding(html_text: Column) -> Column:
    """X9 ``getEncoding`` (``Utils.fs:125-141``) as native expressions:
    extract the meta tag, then mirror the reference's literal
    ``find("charset=")`` + char-set strip — so ``charset =`` (space before
    ``=``) matches the regex but misses the find and falls back to utf-8,
    exactly like the reference."""
    tag = F.regexp_extract(html_text, _META_CHARSET_RE, 0)
    idx = F.instr(tag, "charset=")
    val = tag.substr(idx + F.lit(8), F.length(tag))
    val = F.regexp_replace(val, "^['\"/> ]+", "")
    val = F.regexp_replace(val, "['\"/> ]+$", "")
    return F.when(idx > 1, val).otherwise(F.lit("utf-8"))

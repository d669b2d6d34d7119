"""Sitemap ingestion — set-oriented frontier feed (ENGINE-NEW).

The reference has no sitemap support; at 10^10-URL scale sitemaps are the
cheapest, site-sanctioned frontier feed. Semantics are pinned by the
pure-Python oracle ``refsem/sitemap.py`` (sitemaps.org subset) and
hash-verified by the driver harness (`sitemap_ingest` row).

Spark-first shape (mirrors the H2/H3 nested-category plan): the
"fetch" of a sitemap document is a JOIN against the pages corpus, and the
``<sitemapindex>`` indirection becomes a SECOND join round — never a
per-document loop:

    roots ⋈ pages → round A documents
    index docs → posexplode(nested locs) ⋈ pages → round B documents
    urlset docs (A direct ∪ B nested) → posexplode(<url> blocks)
      → (root_url, ord, url, lastmod)

Everything is native Column work (regexp_extract_all + transform inside
whole-stage codegen); ordering is deterministic by document position
(nested-sitemap position, then entry position), exactly the oracle walk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_URL_BLOCKS = r"(?is)<url\b[^>]*>(.*?)</url>"
_SM_BLOCKS = r"(?is)<sitemap\b[^>]*>(.*?)</sitemap>"
_LOC = r"(?is)<loc\b[^>]*>(.*?)</loc>"
_LASTMOD = r"(?is)<lastmod\b[^>]*>(.*?)</lastmod>"


def _decode_entities(col):
    for src, dst in (
        ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&apos;", "'"),
    ):
        col = F.replace(col, F.lit(src), F.lit(dst))
    return col


def _clean_loc(col):
    """Trim + entity-decode a raw <loc> capture; '' → null."""
    c = _decode_entities(F.trim(col))
    return F.when(c == "", F.lit(None)).otherwise(c)


GZIP_MAGIC = b"\x1f\x8b"


def _gunzip_udf():
    """Arrow-vectorized gunzip for the gzip-compressed sitemap files the
    protocol allows (sitemaps.org: .xml.gz, ≤50 MB uncompressed). Runs
    ONLY on the magic-byte-filtered branch of already-joined sitemap
    documents — never on the pages corpus — so the Python stage touches
    at most (#roots + #nested-sitemaps) rows, bounded by the protocol."""
    from pyspark.sql.functions import pandas_udf

    def one(b):
        import gzip

        if b is None:
            return None
        data = bytes(b)
        try:
            data = gzip.decompress(data)
        except Exception:  # BadGzipFile(OSError) | zlib.error | EOFError
            # corrupt member: keep the raw bytes — the XML block
            # regexes simply find nothing (skip, never fatal)
            pass
        return data.decode("utf-8", "replace")

    # NB lambda (no type hints): the module's `from __future__ import
    # annotations` stringifies hints, which pandas_udf's signature
    # inspection rejects in Spark 4
    return pandas_udf(lambda col: col.map(one), "string")


def _with_xml(docs: DataFrame, cols: list) -> DataFrame:
    """``__raw`` binary → ``xml`` string, transparently gunzipping rows
    with the gzip magic. Plain-XML rows stay fully JVM-native
    (split-union): the Arrow stage exists only on the gz-filtered
    branch."""
    raw = F.col("__raw")
    is_gz = F.coalesce(
        F.substring(raw, 1, 2) == F.lit(GZIP_MAGIC), F.lit(False)
    )
    plain = docs.filter(~is_gz).select(
        *cols, F.decode(raw, "UTF-8").alias("xml")
    )
    gz = docs.filter(is_gz).select(
        *cols, _gunzip_udf()(raw).alias("xml")
    )
    return plain.unionByName(gz)


def _is_http(col):
    return col.startswith("http://") | col.startswith("https://")


def _urlset_entries(docs: DataFrame, xml_col: str) -> DataFrame:
    """Explode <url> blocks of urlset documents into
    (root_url, nested_pos, entry_pos, url, lastmod)."""
    # NB Column-pattern API, not F.expr: a SQL string literal would eat
    # the \b escapes (escapedStringLiterals=false parses '\b' as backspace)
    blocks = F.regexp_extract_all(F.col(xml_col), F.lit(_URL_BLOCKS), 1)
    e = docs.select(
        "root_url",
        "nested_pos",
        F.posexplode(blocks).alias("entry_pos", "block"),
    )
    loc = _clean_loc(F.regexp_extract(F.col("block"), _LOC, 1))
    lastmod = _clean_loc(F.regexp_extract(F.col("block"), _LASTMOD, 1))
    return (
        e.select(
            "root_url", "nested_pos", "entry_pos",
            loc.alias("url"), lastmod.alias("lastmod"),
        )
        .filter(F.col("url").isNotNull() & _is_http(F.col("url")))
    )


def sitemap_urls(pages: DataFrame, roots: DataFrame) -> DataFrame:
    """(root_url, ord, url, lastmod) for every root sitemap URL —
    ``<sitemapindex>`` roots expand through a second corpus join; missing
    fetches (corpus has no row) drop out, exactly the oracle walk.
    gzip-compressed sitemap files decompress transparently (magic-byte
    branch, Arrow UDF over protocol-bounded document counts only)."""
    corpus = pages.select(
        F.col("url").alias("__fetch_url"), F.col("html").alias("__corpus_raw")
    )
    a = _with_xml(
        roots.select(F.col("url").alias("root_url"))
        .join(corpus, F.col("root_url") == F.col("__fetch_url"))
        .select("root_url", F.col("__corpus_raw").alias("__raw")),
        ["root_url"],
    )

    is_index = F.col("xml").rlike(r"(?i)<sitemapindex\b")
    direct = a.filter(~is_index).select(
        "root_url", F.lit(0).alias("nested_pos"), "xml"
    )

    nested_locs = F.regexp_extract_all(F.col("xml"), F.lit(_SM_BLOCKS), 1)
    idx = a.filter(is_index).select(
        "root_url", F.posexplode(nested_locs).alias("nested_pos", "block")
    )
    nested_url = _clean_loc(F.regexp_extract(F.col("block"), _LOC, 1))
    nested = _with_xml(
        idx.select("root_url", "nested_pos", nested_url.alias("nested_url"))
        .filter(F.col("nested_url").isNotNull() & _is_http(F.col("nested_url")))
        .join(corpus, F.col("nested_url") == F.col("__fetch_url"))
        .select("root_url", "nested_pos", F.col("__corpus_raw").alias("__raw")),
        ["root_url", "nested_pos"],
    )

    entries = _urlset_entries(direct.unionByName(nested), "xml")
    # ord within the root WITHOUT a per-root global window: a big index
    # root expands to (#nested × entries-per-sitemap) rows — potentially
    # 50k × 50k = 2.5B under ONE root_url, which a row_number window over
    # root_url would funnel into a single task. Instead: per-(root,
    # nested) entry counts (one row per nested SITEMAP, tiny), cumsum
    # those offsets over nested_pos (window over sitemap-count rows, not
    # entry rows), broadcast-join back, ord = offset + entry_pos. Window
    # task size is bounded by the sitemaps.org protocol itself (≤50k
    # sitemaps per index), per-task entry work by ≤50k URLs per file.
    # entry_pos has gaps (skipped junk locs), and the oracle's ord counts
    # only KEPT entries — dense-rank within each (root, nested) file
    # first; that window is bounded by one sitemap file (≤50k entries)
    wf = Window.partitionBy("root_url", "nested_pos").orderBy("entry_pos")
    entries = entries.withColumn("__rn", F.row_number().over(wf) - 1)
    counts = entries.groupBy("root_url", "nested_pos").agg(
        F.count("*").alias("__n")
    )
    wo = Window.partitionBy("root_url").orderBy("nested_pos")
    offsets = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__n").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    ).select("root_url", "nested_pos", "__off")
    # offsets is file-level metadata (one row per sitemap FILE), small by
    # protocol — broadcastable even at 10^10-URL frontier scale
    return (
        entries.join(F.broadcast(offsets), ["root_url", "nested_pos"])
        .select(
            "root_url",
            (F.col("__off") + F.col("__rn")).cast("long").alias("ord"),
            "url",
            "lastmod",
        )
    )


# Exactly the W3C-Datetime profile sitemaps.org pins for <lastmod>:
# YYYY | YYYY-MM | YYYY-MM-DD | YYYY-MM-DDThh:mm[:ss[.s+]](Z|±hh:mm).
# Both the Spark side and the pure-Python twin gate on this BEFORE
# parsing, because the underlying parsers disagree outside it (Spark's
# stringToTimestamp takes single-digit months, Python's fromisoformat
# takes compact YYYYMMDD — neither is W3C).
W3C_DATETIME_RE = (
    r"^\d{4}(-\d{2}(-\d{2}"
    r"(T\d{2}:\d{2}(:\d{2}(\.\d+)?)?(Z|[+-]\d{2}:\d{2}))?)?)?$"
)


def lastmod_ts(col):
    """W3C-datetime ``<lastmod>`` → timestamp, partial dates included.

    sitemaps.org pins lastmod to W3C Datetime, which allows PARTIAL dates:
    ``YYYY`` and ``YYYY-MM`` as well as full dates/datetimes. Partials
    complete to the first instant of the period (coalesce chain); offsets
    normalize to UTC (session TZ); values outside the W3C profile stay
    null (advisory field — no claim). The pure-Python twin is
    ``refsem.sitemap.parse_lastmod``."""
    c = F.trim(col)
    # W3C allows hh:mm with no seconds; Spark's parser doesn't — complete
    # the seconds before parsing (:00 inserted ahead of the zone)
    full = F.regexp_replace(
        c, r"(T\d{2}:\d{2})(Z|[+-]\d{2}:\d{2})$", r"$1:00$2"
    )
    # try_to_timestamp: ANSI-safe — malformed values (e.g. day 31 of a
    # 30-day month) are null, never an execution error
    parsed = F.coalesce(
        F.try_to_timestamp(full),
        F.try_to_timestamp(F.concat(c, F.lit("-01"))),      # YYYY-MM
        F.try_to_timestamp(F.concat(c, F.lit("-01-01"))),   # YYYY
    )
    return F.when(c.rlike(W3C_DATETIME_RE), parsed)


def recrawl_candidates(
    sitemap_entries: DataFrame, fetch_log: DataFrame
) -> DataFrame:
    """Incremental-recrawl selection: sitemap URLs that are NEW (never
    fetched) or STALE (``lastmod`` strictly after the last fetch).

    ``sitemap_entries`` is :func:`sitemap_urls` output;``fetch_log`` is
    ``(url, last_fetch_ts timestamp)`` — e.g. max(warc_ts) per url from
    the pages table, or the crawl trace's fetch stamps. URLs with no
    parseable lastmod are treated as NOT stale (sitemaps.org: lastmod is
    advisory; absent means "no change claim") — only the never-fetched
    path admits them. One left join on url; no windows.

    A URL listed by several sitemaps/roots keeps the MAX parsed lastmod
    (``max`` ignores nulls): any sitemap claiming a newer change triggers
    the stale path deterministically — a ``dropDuplicates`` here would
    keep a plan-dependent arbitrary row and could nondeterministically
    drop a genuinely stale URL."""
    entries = (
        sitemap_entries.select("url", lastmod_ts(F.col("lastmod")).alias("__lm"))
        .groupBy("url")
        .agg(F.max("__lm").alias("__lastmod"))
    )
    log = fetch_log.select(
        "url", F.col("last_fetch_ts").alias("__fetched")
    )
    joined = entries.join(log, "url", "left")
    reason = (
        F.when(F.col("__fetched").isNull(), F.lit("new"))
        .when(
            F.col("__lastmod").isNotNull()
            & (F.col("__lastmod") > F.col("__fetched")),
            F.lit("stale"),
        )
    )
    return (
        joined.withColumn("reason", reason)
        .filter(F.col("reason").isNotNull())
        .select("url", F.col("__lastmod").alias("lastmod_ts"), "reason")
    )


def seeds_from_sitemaps(pages: DataFrame, roots: DataFrame) -> DataFrame:
    """Frontier feed: distinct sitemap URLs (first root/ord occurrence
    wins)."""
    urls = sitemap_urls(pages, roots)
    w = Window.partitionBy("url").orderBy("root_url", "ord")
    return (
        urls.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("url", "lastmod")
    )

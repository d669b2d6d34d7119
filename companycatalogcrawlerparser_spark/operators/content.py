"""Main-content extraction — block-level boilerplate removal for web
pages (the jusText / Arc90-readability family, Pomikálek 2011), the
step between raw crawled HTML and the training-text corpus.

The reference stops at targeted extraction (emails/hrefs/categories —
`CrawlerParser/Program.fs` regexes); a webtext training pipeline needs
the page's PROSE with navigation/footer/link-farm blocks removed. This
is the density heuristic every production extractor (jusText,
trafilatura, readability) builds on, pinned to exact relational
semantics so it hash-verifies against the pure-Python twin
(refsem.content — SURVEY §5.1 strategy):

1. sanitize: drop comments, <script>, <style> elements;
2. segment into blocks at block-level tag boundaries (p, div, h1-6,
   li, table parts, section/article/header/footer/nav/aside,
   blockquote, br, form — the tag itself is the delimiter);
3. per block, two densities over the TAG-STRIPPED text:
   text length, and anchor-text length (chars that disappear when <a>
   elements are removed before stripping);
4. keep blocks with text length ≥ 25 chars AND anchor share ≤ 35 %
   (integer cross-multiplication — no float in the decision);
5. reassemble kept blocks in document order, newline-joined; pages
   with nothing kept decorate as '' (total — never silently dropped).

Whitespace is normalized with EXPLICIT ASCII classes ([ \\t\\n\\r\\f])
— Java's \\s is ASCII-only while Python's is Unicode, so a shared
class keeps engine and twin bit-identical on any input.

Scale shape: one scan, everything regexp_replace/split/length codegen
columns — no Python in the path, no HOF lambda (the r7
interpreted-projection lesson); the only shuffle is the per-page
groupBy(url) reassembly, keyed by the id the caller already owns. A
100 TB crawl runs this as a map-heavy stage whose output is strictly
smaller than its input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["main_content", "to_markdown", "BLOCK_TAGS"]

BLOCK_TAGS = (
    "p|div|h[1-6]|li|ul|ol|table|thead|tbody|tr|td|th|section|article"
    "|header|footer|nav|aside|blockquote|br|form"
)
_BLOCK_SPLIT = rf"(?i)</?(?:{BLOCK_TAGS})\b[^>]*>"
_WS = r"[ \t\n\r\f]+"
# the keep thresholds, the defaults of refsem.content.main_content
_MIN_CHARS = 25
_MAX_LINK_PCT = 35


def _sanitized(html) -> Column:
    h = F.coalesce(html, F.lit(""))
    h = F.regexp_replace(h, r"(?s)<!--.*?-->", " ")
    h = F.regexp_replace(h, r"(?is)<script\b[^>]*>.*?</script>", " ")
    return F.regexp_replace(h, r"(?is)<style\b[^>]*>.*?</style>", " ")


def _text_of(fragment) -> Column:
    """Tag-stripped, ASCII-whitespace-collapsed, trimmed text."""
    t = F.regexp_replace(fragment, r"<[^>]*>", " ")
    return F.trim(F.regexp_replace(t, _WS, " "))


# html→markdown rule list, applied IN ORDER before the generic tag
# strip. Pattern syntax is the Java∩Python-re common dialect; the twin
# (refsem.content.to_markdown) runs the same list with re.sub. Only
# double-quoted hrefs become links — anything else degrades to plain
# text via the tag strip, which is the right failure mode for a
# training corpus.
MD_RULES = (
    (r'(?is)<a\b[^>]*?href="([^"]*)"[^>]*>(.*?)</a>', "[{2}]({1})"),
    (r"(?i)<h1\b[^>]*>", "\n# "), (r"(?i)<h2\b[^>]*>", "\n## "),
    (r"(?i)<h3\b[^>]*>", "\n### "), (r"(?i)<h4\b[^>]*>", "\n#### "),
    (r"(?i)<h5\b[^>]*>", "\n##### "), (r"(?i)<h6\b[^>]*>", "\n###### "),
    (r"(?i)</h[1-6]>", "\n"),
    (r"(?i)<li\b[^>]*>", "\n- "),
    (r"(?i)</?(?:p|div|section|article|blockquote|tr|table|ul|ol)\b[^>]*>",
     "\n"),
    (r"(?i)<br\b[^>]*/?>", "\n"),
    (r"(?i)</?(?:b|strong)\b[^>]*>", "**"),
    (r"(?i)</?(?:i|em)\b[^>]*>", "*"),
)


def to_markdown(html) -> Column:
    """A ``markdown`` COLUMN expression over an html column (call
    inside ``pages.select``) —
    lightweight html→markdown for training corpora: links to
    ``[text](href)``, h1-6 to ``#`` headings, ``<li>`` to ``- `` items,
    block tags to line breaks, b/strong/i/em to ``**``/``*``, then the
    generic tag strip and whitespace normalization (horizontal runs →
    one space, ≥3 newlines → 2, space-led lines trimmed). Pure codegen
    regexp chain — same scale shape as :func:`main_content` minus the
    shuffle (no per-page regrouping needed).

    Pinned-subset semantics (shared with the twin): markup the rules
    don't cover degrades to plain text, never to dropped content."""
    h = _sanitized(html)
    for pat, rep in MD_RULES:
        h = F.regexp_replace(
            h, pat, rep.replace("{1}", "$1").replace("{2}", "$2")
        )
    h = F.regexp_replace(h, r"<[^>]*>", " ")
    h = F.regexp_replace(h, r"[ \t\f]+", " ")
    h = F.regexp_replace(h, r"\n ", "\n")
    h = F.regexp_replace(h, r" \n", "\n")
    h = F.regexp_replace(h, r"\n{3,}", "\n\n")
    # F.trim strips SPACES only (not \n) — anchor-trim the full
    # ASCII-whitespace class explicitly, twin-identical
    return F.regexp_replace(h, r"^[ \t\n\r\f]+|[ \t\n\r\f]+$", "")


def main_content(pages: DataFrame) -> DataFrame:
    """(page_url, main_text, n_blocks, n_kept) per input (page_url, html)
    page. ``n_blocks`` counts every split segment (empties included — the
    segmentation itself is part of the pinned contract); ``n_kept`` the
    survivors.
    """
    blocks = pages.select(
        F.col("page_url"),
        F.posexplode(
            F.split(_sanitized(F.col("html")), _BLOCK_SPLIT, -1)
        ).alias("__pos", "__blk"),
    )
    txt = _text_of(F.col("__blk"))
    # anchor-text share: chars of stripped text that vanish when <a>
    # elements are removed first. Whitespace collapsing makes this an
    # approximation of pure anchor-inner length — deterministic and
    # shared with the twin, which is what the decision needs.
    no_a = F.regexp_replace(
        F.col("__blk"), r"(?is)<a\b[^>]*>.*?</a>", " "
    )
    scored = blocks.select(
        "page_url",
        "__pos",
        txt.alias("__txt"),
        F.greatest(
            F.length(txt) - F.length(_text_of(no_a)), F.lit(0)
        ).alias("__alen"),
    ).withColumn(
        "__keep",
        (F.length("__txt") >= _MIN_CHARS)
        & (
            F.col("__alen") * 100
            <= F.lit(_MAX_LINK_PCT) * F.length("__txt")
        ),
    )
    per_page = scored.groupBy("page_url").agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.col("__keep").cast("long")).alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct("__pos", "__txt"),
                        )
                    )
                ),
                lambda s: s["__txt"],
            ),
        ).alias("main_text"),
    )
    return pages.select("page_url").join(per_page, "page_url", "left").select(
        "page_url",
        F.coalesce("main_text", F.lit("")).alias("main_text"),
        F.coalesce("n_blocks", F.lit(0)).alias("n_blocks"),
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
    )

"""The pages-table fetch join — "the corpus is the web" (J4 + S2/F11).

The reference's live HTTP GET (``Crawler.fs:189-236``) becomes an equi-join
``frontier ⋈ pages ON url``.

Scale design: redirect rows are a small fraction of any web corpus, so we
first compute a **redirect-resolution map** by iterating ONLY over the
redirect subset (transitive closure, hop cap 20 mirroring
``MaxAutomaticRedirections``, cycle detection via an accumulated visited
array — the reference's per-call ConcurrentHashSet, ``Crawler.fs:190,225``).
The frontier then gets ONE broadcast join against that map to rewrite
URLs, and is itself broadcast to the content pages, which stream past it:
page html is never shuffled or sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.canon import base_url as base_url_expr
from ..session import local_frame

MAX_REDIRECTS = 20


def _redirect_admissible(url, status, loc):
    """F11 — ``Crawler.fs:218-221`` (incl. the reference's operator-
    precedence quirk: reject only when location starts '://' AND does not
    end '404.html')."""
    return (
        status.isNotNull()
        & (status >= 300)
        & (status <= 399)
        & loc.isNotNull()
        & (loc != "")
        & (loc != url)
        & (((F.length(url) <= 80) & (F.length(loc) <= 80)) | (F.length(url) > 80))
        & ~(loc.startswith("://") & ~loc.endswith("404.html"))
    )


def _remove_dot_segments(path):
    """RFC 3986 §5.2.4 dot-segment removal as a bounded regexp_replace
    fold (the reference resolves via ``new Uri(base, rel)``, which
    normalizes dot segments — ``Crawler.fs:223``). Handles nesting up to
    10 levels of ``seg/../`` — beyond any real redirect Location; the
    driver-side closure uses exact ``urljoin`` regardless."""
    p = path
    for _ in range(2):
        p = F.regexp_replace(p, r"/\.(?=/)", "")   # "/./" → "/"
    p = F.regexp_replace(p, r"/\.$", "/")          # trailing "/."
    for _ in range(10):
        p = F.regexp_replace(p, r"/(?!\.\.(?:/|$))[^/]+/\.\.(?=/|$)", "")
    p = F.regexp_replace(p, r"^(/\.\.)+(?=/|$)", "")  # above-root ".." dropped
    return F.when(p == "", F.lit("/")).otherwise(p)


def _resolve_location(url, loc):
    """Relative location → absolute against scheme://authority of ``url``
    (``Crawler.fs:223``: ``new Uri(new Uri(authority), relative)`` — full
    RFC 3986 resolution incl. dot segments; mirrored by the refsem
    oracle's ``urljoin``)."""
    scheme = F.regexp_extract(url, r"^(https?):", 1)
    rel_path = F.when(loc.startswith("/"), loc).otherwise(F.concat(F.lit("/"), loc))
    return (
        F.when(loc.startswith("http://") | loc.startswith("https://"), loc)
        # network-path reference "//host/path" → inherit the scheme
        .when(loc.startswith("//"), F.concat(scheme, F.lit(":"), loc))
        .otherwise(F.concat(base_url_expr(url), _remove_dot_segments(rel_path)))
    )


# up to this many bytes of (url, loc) strings the 3xx closure is resolved
# driver-side (one collect of the redirect subset) instead of iterative
# joins — the subset is tiny relative to any real corpus, and the join
# loop costs ~10 Spark stages that dominate small-scale runs. Above it,
# the distributed iterative path runs (the 10^10-scale design). Gated on
# bytes, not rows: the collect holds whole strings, and a few very long
# locations cost as much driver memory as many short ones. ~30 MB is
# safely inside any driver heap. Both sides are pinned by
# tests/test_plan_quality.py::TestRedirectResolution.
DRIVER_CLOSURE_MAX_BYTES = 30 << 20


def _resolve_chains_py(rows):
    """Driver-side closure over collected (url, status, loc) redirect rows.
    Same F11 semantics as the Column-expression path (see
    ``_redirect_admissible`` / ``_resolve_location``)."""
    from urllib.parse import urljoin

    from ..refsem.strings import get_base_url

    by_url = {r[0]: (r[1], r[2]) for r in rows}
    out = []
    for src in by_url:
        cur = src
        hops = 0
        visited = set()
        err = None
        while True:
            rec = by_url.get(cur)
            if rec is None:
                break  # landed on a non-redirect URL → resolved
            status, loc = rec
            loc = loc or ""
            admissible = (
                loc != ""
                and loc != cur
                and ((len(cur) <= 80 and len(loc) <= 80) or len(cur) > 80)
                and not (loc.startswith("://") and not loc.endswith("404.html"))
            )
            if not admissible:
                err = f"http_{status}"
                break
            if not (loc.startswith("http://") or loc.startswith("https://")):
                # RFC 3986 resolution against scheme://authority — same as
                # the reference's new Uri(base, rel) and the refsem oracle
                loc = urljoin(get_base_url(cur) + "/", loc)
            if loc in visited:
                err = "redirect_cycle"
                break
            visited.add(loc)
            hops += 1
            if hops > MAX_REDIRECTS:
                err = "too_many_redirects"
                break
            cur = loc
        out.append((src, cur, err, hops))
    return out


def redirect_map(pages: DataFrame) -> DataFrame:
    """(src_url, resolved_url, resolve_error, hops) for every 3xx page row.

    ``resolved_url`` is where the chain lands (a content URL, or the last
    redirect URL when the chain errors). ``resolve_error`` is null on
    success, else redirect_cycle / too_many_redirects / http_3NN.
    Each iteration touches only still-pending redirect rows.
    """
    redirects = (
        pages.filter((F.col("status") >= 300) & (F.col("status") <= 399))
        .select(
            F.col("url").alias("r_url"),
            F.col("status").alias("r_status"),
            F.col("redirect_to").alias("r_loc"),
        )
        .cache()
    )

    # bytes a collect would hold: the url and location strings (the
    # status int is noise next to them)
    n_bytes = redirects.agg(F.sum(
        F.coalesce(F.octet_length("r_url"), F.lit(0))
        + F.coalesce(F.octet_length("r_loc"), F.lit(0))
    )).first()[0] or 0
    if n_bytes <= DRIVER_CLOSURE_MAX_BYTES:
        rows = [(r["r_url"], r["r_status"], r["r_loc"]) for r in redirects.collect()]
        redirects.unpersist()
        return local_frame(
            pages.sparkSession,
            _resolve_chains_py(rows),
            "src_url string, resolved_url string, resolve_error string, hops int",
        )

    cur = redirects.select(
        F.col("r_url").alias("src_url"),
        F.col("r_url").alias("cur_url"),
        F.lit(0).alias("hops"),
        F.array().cast("array<string>").alias("visited"),
    )
    done_parts = []

    for _hop in range(MAX_REDIRECTS + 1):
        j = cur.join(redirects, cur["cur_url"] == redirects["r_url"], "left")
        is_redirect_row = F.col("r_url").isNotNull()
        admissible = _redirect_admissible(
            F.col("cur_url"), F.col("r_status"), F.col("r_loc")
        )
        target = _resolve_location(F.col("cur_url"), F.col("r_loc"))
        is_cycle = admissible & F.array_contains(F.col("visited"), target)

        # landed on a non-redirect URL → resolved
        done_parts.append(
            j.filter(~is_redirect_row).select(
                "src_url",
                F.col("cur_url").alias("resolved_url"),
                F.lit(None).cast("string").alias("resolve_error"),
                "hops",
            )
        )
        # inadmissible redirect or cycle → terminal error
        done_parts.append(
            j.filter(is_redirect_row & (~admissible | is_cycle)).select(
                "src_url",
                F.col("cur_url").alias("resolved_url"),
                F.when(is_cycle, F.lit("redirect_cycle"))
                .otherwise(F.concat(F.lit("http_"), F.col("r_status").cast("string")))
                .alias("resolve_error"),
                "hops",
            )
        )
        pending = j.filter(is_redirect_row & admissible & ~is_cycle).select(
            "src_url",
            target.alias("cur_url"),
            (F.col("hops") + 1).alias("hops"),
            F.array_union(F.col("visited"), F.array(target)).alias("visited"),
        )
        # the loop runs over the (small) redirect subset only; localCheckpoint
        # keeps lineage flat and makes isEmpty cheap
        pending = pending.localCheckpoint(eager=True)
        if pending.isEmpty():
            cur = None
            break
        cur = pending

    if cur is not None:
        done_parts.append(
            cur.select(
                "src_url",
                F.col("cur_url").alias("resolved_url"),
                F.lit("too_many_redirects").alias("resolve_error"),
                "hops",
            )
        )

    out = done_parts[0]
    for p in done_parts[1:]:
        out = out.unionByName(p)
    return out


def fetch_join(
    frontier: DataFrame,
    pages: DataFrame,
    rmap: DataFrame,
) -> DataFrame:
    """frontier(…, url) ⋈ pages → one row per frontier row, columns:
    frontier.* (url renamed page_url) + (final_url, html, fetch_ok,
    fetch_error, hops).

    Missing page row → ``not_found``; 4xx/5xx → ``http_NNN``; redirect
    chains pre-resolved: ``rmap`` is :func:`redirect_map` of ``pages``,
    computed once and cached by the caller (the closure depends only on
    ``pages``).

    Pages-table contract: at most one row per ``url`` ("the corpus is the
    web": one response per url). Under it the output has exactly one row
    per frontier row; the crawl's per-page token rows, and round 0's one
    row per company, rest on this. A repeated url would repeat the
    frontier row; nothing here dedups the corpus (docs/SEMANTICS.md §7).

    Join strategy (the engine's scale-critical decision): the per-round
    frontier — a few rows per crawled company (``take_limit`` caps the
    companies), orders of magnitude smaller than the corpus — is BROADCAST
    and the corpus STREAMS through an inner hash join, so page html is
    never shuffled or sorted; unmatched frontier rows come from a cheap
    second pass that column-prunes the scan to ``url`` only. A sort-merge
    join here would sort the full html payload (measured: disk-bound and
    core-count-independent).
    """
    fr = frontier.withColumnRenamed("url", "page_url")
    fr = fr.join(
        F.broadcast(rmap.withColumnRenamed("src_url", "page_url")),
        "page_url",
        "left",
    ).select(
        *[F.col(c) for c in fr.columns],
        F.coalesce(F.col("resolved_url"), F.col("page_url")).alias("final_url"),
        F.col("resolve_error"),
        F.coalesce(F.col("hops"), F.lit(0)).alias("hops"),
    )

    content = pages.filter(
        (F.col("status") < 300) | (F.col("status") >= 400)
    ).select(
        F.col("url").alias("__c_url"),
        F.col("html").alias("__c_html"),
        F.col("status").alias("__c_status"),
    )

    # inner + anti, not one left-outer join: Spark plans the left-outer
    # as sort-merge, which SORTS the html payloads
    found = content.join(
        F.broadcast(fr), fr["final_url"] == content["__c_url"], "inner"
    )
    # frontier rows with no content row: second corpus pass, pruned to
    # the url column (parquet reads only that column)
    content_keys = pages.filter(
        (F.col("status") < 300) | (F.col("status") >= 400)
    ).select(F.col("url").alias("final_url"))
    missing = (
        fr.join(content_keys, "final_url", "left_anti")
        .withColumn("__c_url", F.lit(None).cast("string"))
        .withColumn("__c_html", F.lit(None).cast("binary"))
        .withColumn("__c_status", F.lit(None).cast("int"))
    )
    j = found.select(*[F.col(c) for c in missing.columns]).unionByName(missing)

    ok = (
        F.col("resolve_error").isNull()
        & F.col("__c_url").isNotNull()
        & (F.col("__c_status") < 300)
    )
    error = (
        F.when(F.col("resolve_error").isNotNull(), F.col("resolve_error"))
        .when(F.col("__c_url").isNull(), F.lit("not_found"))
        .when(
            F.col("__c_status") >= 400,
            F.concat(F.lit("http_"), F.col("__c_status").cast("string")),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return j.select(
        *[F.col(c) for c in fr.columns if c not in ("resolve_error",)],
        F.when(ok, F.col("__c_html")).alias("html"),
        ok.alias("fetch_ok"),
        error.alias("fetch_error"),
    ).drop("__c_url", "__c_html", "__c_status")

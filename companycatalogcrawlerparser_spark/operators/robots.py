"""robots.txt gating (north_rule: "per-host priority queue with politeness
delays and robots.txt gating").

"The corpus is the web": a host's robots.txt is the corpus row at
``scheme://host/robots.txt``. The pipeline is two-stage:

1. :func:`robots_rules` — parse every robots.txt in the corpus ONCE into a
   flat rules table ``(host, allow, pattern, regex, rule_len,
   crawl_delay_ms)``. Parsing is per-host tiny text through one
   ``mapInPandas`` over ONLY the robots rows (a ~1/hosts fraction of the
   corpus; the scan prunes on the url filter). Patterns are pre-compiled
   to anchored regexes here so the gate below is pure JVM.
2. :func:`gate_frontier` — JVM-side longest-match decision per frontier
   row: join on host, ``rlike`` the pre-built regex against path+query,
   pick ``max(struct(rule_len, allow))`` (exactly RFC 9309's longest-match
   with Allow winning ties), left-join the decision back so hosts with no
   rules stay allowed. Shuffles only on ``host`` — the same key the
   politeness schedule already uses.

``crawl_delays`` exposes the per-host Crawl-delay rows in the exact shape
``operators.frontier.schedule`` takes as its politeness table.

Decision parity with the pure-Python oracle (``refsem.robots``) is pinned
by tests and the driver harness row ``robots_gate``.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RULES_SCHEMA = (
    "host string, allow boolean, pattern string, regex string, "
    "rule_len int, crawl_delay_ms long"
)


def is_robots_url(url):
    """True for a ``scheme://host/robots.txt`` URL."""
    return url.rlike(r"^https?://[^/?#]+/robots\.txt$")


def robots_pages(pages: DataFrame) -> DataFrame:
    """The corpus rows that ARE robots.txt files → (host, text)."""
    from ..functions.canon import canonical_host

    return pages.filter(is_robots_url(F.col("url")) & F.col("html").isNotNull()).select(
        canonical_host(F.col("url")).alias("host"),
        F.col("html").cast("string").alias("text"),
    )


def robots_rules(pages: DataFrame, agent: str = "ccc-spark") -> DataFrame:
    """Parse all robots.txt rows into the flat rules table. One output row
    per (host, rule); hosts whose robots.txt yields only a Crawl-delay
    still get one row (pattern null) carrying the delay."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from ..refsem.robots import _select_rules, parse_robots, pattern_to_regex

        for b in batches:
            rows = []
            for host, text in zip(b["host"], b["text"]):
                rules, delay_s = _select_rules(parse_robots(text or ""), agent)
                delay_ms = int(delay_s * 1000) if delay_s is not None else None
                for allow, pattern in rules:
                    rows.append(
                        (host, allow, pattern, pattern_to_regex(pattern),
                         len(pattern), delay_ms)
                    )
                if not rules and delay_ms is not None:
                    rows.append((host, None, None, None, None, delay_ms))
            yield pd.DataFrame(
                rows,
                columns=["host", "allow", "pattern", "regex", "rule_len", "crawl_delay_ms"],
            )

    return robots_pages(pages).mapInPandas(run, schema=RULES_SCHEMA)


def _path_query(url_col):
    """path+query of a URL — the REP match target ('' → '/')."""
    rest = F.regexp_replace(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    rest = F.regexp_replace(rest, r"#.*$", "")
    return F.when(rest.startswith("/"), rest).otherwise(F.concat(F.lit("/"), rest))


def gate_frontier(
    frontier: DataFrame,
    rules: DataFrame,
    keep_denied: bool = False,
) -> DataFrame:
    """Filter frontier rows whose URL the host's robots rules disallow.

    Longest-match, Allow wins ties, no-match/no-rules → allowed — computed
    as ``max(struct(rule_len, allow))`` per frontier row over its matching
    rules (struct ordering IS the RFC tie-break). With ``keep_denied`` the
    denied rows are returned too, flagged ``robots_allowed = false`` (for
    trace/audit); default drops them.
    """
    from ..functions.canon import canonical_host

    df = frontier.withColumn("__rhost", canonical_host(F.col("url")))
    df = df.withColumn("__rpath", _path_query(F.col("url")))

    r = rules.filter(F.col("pattern").isNotNull()).select(
        F.col("host").alias("__rhost"),
        F.col("allow").alias("__rallow"),
        F.col("regex").alias("__rregex"),
        F.col("rule_len").alias("__rlen"),
    )
    matched = (
        df.join(r, "__rhost")
        .filter(F.rlike(F.col("__rpath"), F.col("__rregex")))
        .groupBy(*[F.col(c) for c in frontier.columns])
        .agg(F.max(F.struct(F.col("__rlen"), F.col("__rallow"))).alias("__best"))
        .select(*frontier.columns, F.col("__best.__rallow").alias("__decision"))
    )
    out = (
        df.select(*frontier.columns)
        .join(matched, list(frontier.columns), "left")
        .withColumn("robots_allowed", F.coalesce(F.col("__decision"), F.lit(True)))
        .drop("__decision")
    )
    if keep_denied:
        return out
    return out.filter(F.col("robots_allowed")).drop("robots_allowed")


def crawl_delays(rules: DataFrame) -> DataFrame:
    """(host, delay_ms) rows for frontier.schedule's politeness table."""
    return (
        rules.filter(F.col("crawl_delay_ms").isNotNull())
        .groupBy("host")
        .agg(F.max("crawl_delay_ms").alias("delay_ms"))
    )

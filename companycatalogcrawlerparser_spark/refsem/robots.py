"""Pure-Python robots.txt oracle — RFC 9309 subset + the de-facto
Crawl-delay extension.

The REFERENCE crawler has no robots handling (nothing in
``/root/reference`` reads robots.txt), but the engine's north_rule mandates
"per-host priority queue with politeness delays and robots.txt gating", so
this is an engine-native feature specified by PUBLIC semantics (RFC 9309):

- groups are selected by User-agent (case-insensitive product token match;
  fall back to the ``*`` group; all groups for the same agent merge);
- rules are path patterns over path+query, ``*`` matches any sequence,
  ``$`` anchors the end;
- the decision is the LONGEST matching pattern (octet length of the rule
  text), Allow wins ties; no matching rule → allowed; empty Disallow is a
  no-op; missing/unfetchable robots.txt → everything allowed;
- ``Crawl-delay: <seconds>`` (non-RFC but ubiquitous) is carried per group
  and feeds the politeness schedule.

This module is the test/driver oracle; the Spark lift lives in
``operators/robots.py`` and must match it decision-for-decision.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple


@dataclass
class Group:
    agents: List[str] = field(default_factory=list)
    # (allow: bool, pattern: str)
    rules: List[Tuple[bool, str]] = field(default_factory=list)
    crawl_delay_s: Optional[float] = None


def parse_robots(text: str) -> List[Group]:
    """Line-oriented parse into agent groups (RFC 9309 §2.2): a group is a
    run of user-agent lines followed by rule lines; a user-agent line after
    rules starts a new group. Comments (#) stripped; unknown directives
    ignored (but do not break the group)."""
    groups: List[Group] = []
    cur: Optional[Group] = None
    rules_seen = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if cur is None or rules_seen:
                cur = Group()
                groups.append(cur)
                rules_seen = False
            cur.agents.append(value.lower())
        elif key in ("allow", "disallow"):
            if cur is None:
                continue  # rules before any user-agent line: ignored
            rules_seen = True
            if key == "disallow" and value == "":
                continue  # empty Disallow is a no-op
            if key == "allow" and value == "":
                continue
            cur.rules.append((key == "allow", value))
        elif key == "crawl-delay":
            if cur is None:
                continue
            rules_seen = True
            try:
                cur.crawl_delay_s = float(value)
            except ValueError:
                pass
    return groups


def _select_rules(groups: List[Group], agent: str):
    """All rules of the groups matching ``agent`` (merged); fall back to
    the ``*`` groups. Returns (rules, crawl_delay_s)."""
    agent = agent.lower()
    exact = [g for g in groups if any(a != "*" and a in agent for a in g.agents)]
    chosen = exact or [g for g in groups if "*" in g.agents]
    rules: List[Tuple[bool, str]] = []
    delay = None
    for g in chosen:
        rules.extend(g.rules)
        if g.crawl_delay_s is not None and delay is None:
            delay = g.crawl_delay_s
    return rules, delay


def pattern_to_regex(pattern: str) -> str:
    """REP pattern → anchored regex: ``*`` → ``.*``, trailing ``$`` stays
    an anchor, everything else literal. Match target is path+query."""
    anchored_end = pattern.endswith("$")
    body = pattern[:-1] if anchored_end else pattern
    out = []
    for ch in body:
        out.append(".*" if ch == "*" else re.escape(ch))
    return "^" + "".join(out) + ("$" if anchored_end else "")


def path_query(url: str) -> str:
    """path+query of a URL (the REP match target); '' → '/'. Fragments are
    not part of the match target."""
    m = re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", url)
    rest = url[m.end():] if m else url
    rest = rest.split("#", 1)[0]
    return rest if rest.startswith("/") else "/" + rest


def is_allowed(rules: List[Tuple[bool, str]], url: str) -> bool:
    """Longest-match decision; Allow wins ties; no match → allowed."""
    target = path_query(url)
    best: Optional[Tuple[int, bool]] = None  # (len, allow)
    for allow, pattern in rules:
        if re.match(pattern_to_regex(pattern), target):
            key = (len(pattern), allow)
            if best is None or key > best:
                best = key
    return True if best is None else best[1]


class RobotsOracle:
    """host → (rules, crawl_delay) built from a corpus dict; mirrors the
    engine's rules-table semantics for tests/driver rows."""

    def __init__(self, robots_by_host: Dict[str, str], agent: str = "ccc-spark"):
        self.by_host = {}
        for host, text in robots_by_host.items():
            self.by_host[host] = _select_rules(parse_robots(text), agent)

    def allowed(self, host: str, url: str) -> bool:
        entry = self.by_host.get(host)
        if entry is None:
            return True
        return is_allowed(entry[0], url)

    def crawl_delay_ms(self, host: str) -> Optional[int]:
        entry = self.by_host.get(host)
        if entry is None or entry[1] is None:
            return None
        return int(entry[1] * 1000)

"""PII detection + redaction for training-data pipelines.

Scrubbing personally-identifiable text spans (emails, phone numbers,
IP addresses) is a standard pass between crawl extraction and training —
the engine's crawl side *collects* contact emails on purpose
(reference semantics), and this operator is its pipeline-side dual:
count and strip such spans from document text before it becomes
training data.

Everything is JVM-native regex (``regexp_count`` / ``regexp_replace``
columns — no Python in the hot path, one scan for any number of
patterns), and every pattern is written in the common subset of Java
regex and RE2 (character classes, bounded repetition, no backreferences
or lookaround) so the DuckDB oracle evaluates the IDENTICAL pattern
text: detection counts and the redacted string are bit-comparable
across engines. Patterns deliberately favor precision over recall
(false redactions destroy training text silently); swapping in a
heavier NER model would ride ``mapInPandas``, behind the same column
contract.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ordered: redaction applies in this order, and placeholders are chosen
# so no pattern matches another's placeholder.
#
# Digit-edge guards are ``\b`` — the ASCII word boundary, which Java
# regex (default flags: \w = [a-zA-Z0-9_]) and RE2 define identically,
# and which is ZERO-WIDTH, so regexp_count and regexp_replace never
# consume a boundary character (a consuming guard class like [^0-9]
# would break adjacent-span counting and replacement resume points
# differently per engine). This closes the r6 sub-span hole: in
# '1234.5.6.7890' nothing matches, where the unguarded pattern redacted
# '234.5.6.789' and left stray digits around the placeholder.
#
# Precision/recall contract (deliberate, precision-first): leading-zero
# octets ('010.0.0.1'), 5-part dotted runs (the first 4 octets of
# '1.2.3.4.5' still match), version-like dotted quads ('1.2.3.4'), and
# phone groupings outside the four supported shapes (3-3-2-2 dashed /
# spaced, +CC international, (NNN)-paren) are NOT matched — false
# redactions destroy training text silently, so unmatched rare forms
# are the cheaper error.
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld — lowercase subset (apply to lowercased text)
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    # phone shapes, mutually exclusive at the first char ('+', '(',
    # digit) so alternation order is irrelevant in both engines:
    #   +CC {2,3}-{2,3}-2-2 international (dashed or spaced groups),
    #   (NNN) 3-2-2 paren-grouped,
    #   bare 3-3-2-2 (dashed or spaced — the crawl corpus format)
    "phone": (
        r"(\+[0-9]{1,3}[- ][0-9]{2,3}[- ][0-9]{2,3}[- ][0-9]{2}[- ][0-9]{2}\b"
        r"|\([0-9]{3}\) ?[0-9]{3}-[0-9]{2}-[0-9]{2}\b"
        r"|\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{2}[- ][0-9]{2}\b)"
    ),
    # dotted-quad IPv4 with octet range pinned to 0-255 (no leading
    # zeros) — '999.1.1.1' and '256.1.1.1' no longer match
    "ipv4": (
        r"\b(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])"
        r"(\.(25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])){3}\b"
    ),
}


def pii_count(text, kind: str) -> Column:
    """Number of ``kind`` spans in ``text`` (one codegen regexp_count)."""
    return F.regexp_count(F.lower(text), F.lit(PII_PATTERNS[kind])).cast(
        "long"
    )


def redact_pii(text) -> Column:
    """``text`` lowercased with every PII span replaced by ``<KIND>``.

    Lowercasing first keeps the match set identical to ``pii_count`` and
    the DuckDB twin (`lower()` then `regexp_replace(..., 'g')`).
    Patterns apply in ``PII_PATTERNS`` order; emails go first so the
    phone/ipv4 passes never see address-local digits."""
    out = F.lower(text)
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out

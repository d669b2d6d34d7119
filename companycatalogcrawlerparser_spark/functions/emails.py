"""Email validity / post-filter / fixups as native Column expressions.

Mirrors ``..refsem.predicates.is_valid_email`` (X4/Q6),
``..refsem.strings.trim_email_with_subject`` (X5) and the F10 chain
(``Program.fs:543-551``), plus the mailer fixups X12
(``ConsoleAppMailer/Program.fs:84-89``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .predicates import is_not_image_script_css_ext

# Utils.fs:23 — strict RFC-5322-ish regex, ASCII-only; anchored.
_EMAIL_STRICT = (
    r"^[a-zA-Z0-9.!#$%&'*+/=?^_`{|}~-]+@[a-zA-Z0-9](?:[a-zA-Z0-9-]{0,61}"
    r"[a-zA-Z0-9])?(?:\.[a-zA-Z0-9](?:[a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?)*$"
)


def is_valid_email(email: Column) -> Column:
    """X4 — the MailAddress-parse conjunct is a no-op on regex-passing
    strings (see refsem docstring), so the native form is the regex alone."""
    return email.rlike(_EMAIL_STRICT)


def trim_email_with_subject(email: Column) -> Column:
    """X5 — cut at the LAST ``?subject`` when its index > 0."""
    suffix = F.substring_index(email, "?subject", -1)
    occurs = F.length(suffix) < F.length(email)
    last_pos = F.length(email) - F.length(suffix) - F.lit(len("?subject"))
    return F.when(
        occurs & (last_pos > 0), F.substring(email, F.lit(1), last_pos)
    ).otherwise(email)


def email_post_filter(email: Column) -> Column:
    """F10 predicate part (``Program.fs:547-549``)."""
    return (
        is_valid_email(email)
        & is_not_image_script_css_ext(email)
        & ~F.substring(email, -1, 1).rlike(r"^[0-9]$")
        & ~F.lower(email).endswith(".html")
        & ~email.startswith("@")
    )


def finalize_emails(df: DataFrame) -> DataFrame:
    """Full F10 chain over a (company_id, email) DataFrame: distinct pair →
    predicate filter → subject trim → ≤150 length cap. Set-equivalent to
    ``refsem.predicates.finalize_emails`` (DataFrames are unordered; the
    reference's first-occurrence dedup keeps an identical pair anyway)."""
    e = F.col("email")
    return (
        df.dropDuplicates(["company_id", "email"])
        .filter(email_post_filter(e))
        .withColumn("email", trim_email_with_subject(e))
        .filter(F.length(e) <= 150)
    )


def mailer_fixups(email: Column) -> Column:
    """X12 — ``%40``→``@``; a ``nfo@``-prefixed address is rewritten from
    the ORIGINAL string (the reference overwrites the %40 fix,
    ``ConsoleAppMailer/Program.fs:84-86``), with Replace-all semantics."""
    fixed = F.replace(email, F.lit("%40"), F.lit("@"))
    return F.when(
        email.startswith("nfo@"), F.replace(email, F.lit("nfo@"), F.lit("info@"))
    ).otherwise(fixed)

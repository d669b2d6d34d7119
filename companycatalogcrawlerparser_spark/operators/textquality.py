"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting.

All pure native-column expressions (regexp counts, length arithmetic) so
they are portable to the DuckDB oracle and stay inside whole-stage codegen
at 100 TB scan scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .dedup import bind_once, normalized

EN_STOPWORDS = [
    "the", "and", "of", "to", "in", "is", "for", "with", "on", "that",
]
RU_STOPWORDS = [
    "и", "в", "не", "на", "что", "с", "по", "как", "это", "для",
]


def _char_count(text, pattern: str) -> Column:
    """Number of characters matching the class: removing the matches and
    diffing lengths (identical semantics in Spark and DuckDB)."""
    return F.length(text) - F.length(F.regexp_replace(text, pattern, ""))


def _word_hits(text, words) -> Column:
    """Occurrences of any stopword as a whitespace-delimited token over the
    normalized text (padded-spaces trick — ANSI-portable, no \\b)."""
    padded = F.concat(F.lit(" "), normalized(text), F.lit(" "))
    total = F.lit(0)
    for w in words:
        occ = (
            F.length(padded)
            - F.length(F.replace(padded, F.lit(f" {w} "), F.lit("")))
        ) / F.lit(len(w) + 2)
        total = total + occ
    return total.cast("long")


def latin_chars(text) -> Column:
    return _char_count(text, "[A-Za-z]")


def cyrillic_chars(text) -> Column:
    return _char_count(text, "[А-Яа-яЁё]")


def predict_lang(text) -> Column:
    """n-gram-free heuristic language ID: script dominance, stopword hits
    as the tie-breaker, 'unknown' when neither script appears."""
    lat = latin_chars(text)
    cyr = cyrillic_chars(text)
    en_hits = _word_hits(text, EN_STOPWORDS)
    ru_hits = _word_hits(text, RU_STOPWORDS)
    return (
        F.when(cyr > lat, F.lit("ru"))
        .when(lat > cyr, F.lit("en"))
        .when(ru_hits > en_hits, F.lit("ru"))
        .when(en_hits > ru_hits, F.lit("en"))
        .otherwise(F.lit("unknown"))
    )


def token_count(text) -> Column:
    """Whitespace tokens of the trimmed text (0 for blank)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def bpe_ish_token_count(text) -> Column:
    """Sub-word-ish proxy: count of maximal digit / letter / punct runs
    (regex segmentation as a cheap token estimate for budget math).
    Each run collapses to one marker char, then markers are counted."""
    t = normalized(text)
    marked = F.regexp_replace(t, r"[0-9]+|[a-z\u0430-\u044f\u0451]+|[^0-9a-z\u0430-\u044f\u0451 ]+", "#")
    return (
        F.length(marked) - F.length(F.replace(marked, F.lit("#"), F.lit("")))
    ).cast("long")


def quality_features(text) -> dict:
    """Quality-scoring features: returns named Columns."""
    n = F.length(text).cast("double")
    safe_n = F.greatest(n, F.lit(1.0))
    alpha = (_char_count(text, "[A-Za-zА-Яа-яЁё]")).cast("double")
    digits = _char_count(text, "[0-9]").cast("double")
    punct = _char_count(text, r"[.,;:!?()\[\]«»\"']").cast("double")
    toks = token_count(text).cast("double")
    stop = (_word_hits(text, EN_STOPWORDS) + _word_hits(text, RU_STOPWORDS)).cast("double")
    return {
        "n_chars": n.cast("long"),
        "alpha_ratio": F.round(alpha / safe_n, 6),
        "digit_ratio": F.round(digits / safe_n, 6),
        "punct_ratio": F.round(punct / safe_n, 6),
        "mean_word_len": F.round(alpha / F.greatest(toks, F.lit(1.0)), 6),
        "stopword_ratio": F.round(stop / F.greatest(toks, F.lit(1.0)), 6),
    }


def quality_score(text) -> Column:
    """Composite [0,1] quality score: rewards alpha density and stopword
    presence, penalizes digit/punct domination and tiny docs."""
    f = quality_features(text)
    toks = token_count(text).cast("double")
    score = (
        F.lit(0.4) * f["alpha_ratio"]
        + F.lit(0.3) * F.least(f["stopword_ratio"] * 2, F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(f["digit_ratio"] * 4, F.lit(1.0)))
        + F.lit(0.1) * F.least(toks / F.lit(100.0), F.lit(1.0))
    )
    return F.round(score, 6)


# --- Gopher/MassiveText-style repetition + format rules (Rae et al.
# 2021, appendix A1) — the standard webtext quality filters beyond the
# composite score above. All pure array/HOF expressions over ONE row:
# shuffle-free by construction (the naive formulation — explode lines /
# n-grams and groupBy(doc_id, value) — shuffles the entire corpus to
# compute a per-doc ratio; sorting the per-doc array and scanning
# adjacent runs gives identical counts with zero exchanges, which is the
# plan that survives 100 TB). The DuckDB oracle twin deliberately USES
# the naive relational formulation (unnest → GROUP BY → join back), so
# the hash check compares two independent formulations of the pinned
# definitions. Reference analogue: none (engine-new training-data scope).
#
# Pinned definitions (both engines):
# - lines: raw-text '\n' split, each trimmed, empties dropped
#   (normalized() collapses newlines, so line structure is pre-normalize)
# - words: normalized-text ' ' split, empties dropped
# - n-gram: space-join of n consecutive words
# - dup_line_frac: lines whose value occurs >1 time (ALL instances
#   counted) / line count
# - dup_line_char_frac: chars of those instances / chars of all lines
# - top_ngram_char_frac(n): (max gram count, ties → lexicographically
#   smallest gram) * gram length / normalized-text length, capped at 1
# - dup_ngram_char_frac(n): chars of all gram instances in groups with
#   count>1 / normalized-text length, capped at 1 (overlaps counted —
#   the Gopher approximation)
# - symbol_word_ratio: occurrences of '#', '...' or '…' / word count
# - alpha_word_frac: words containing an alphabetic char / word count


def _empty_ints() -> Column:
    return F.array().cast("array<int>")


def _gopher_lines(text) -> Column:
    """Non-empty trimmed lines of the RAW text."""
    # NB: F.transform(arr, F.trim) silently no-ops (the bare function
    # reference mis-binds); the lambda form evaluates correctly
    return F.filter(
        F.transform(
            F.split(F.coalesce(text, F.lit("")), "\n"), lambda l: F.trim(l)
        ),
        lambda l: l != F.lit(""),
    )


def _gopher_words(text) -> Column:
    """Non-empty whitespace tokens of the normalized text."""
    return F.filter(
        F.split(normalized(F.coalesce(text, F.lit(""))), " "),
        lambda w: w != F.lit(""),
    )


def dup_line_stats(text) -> Column:
    """struct(dup_line_frac, dup_line_char_frac) — duplicate-line ratios
    via array_sort + adjacent-run scan (F.get is NULL-safe out of range,
    unlike element_at under ANSI)."""

    def per_sorted(s):
        n = F.size(s)
        # sequence(1, 0) yields [1, 0] (descending!) — guard empties
        idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
            _empty_ints()
        )

        def isdup(i):
            x = F.get(s, i)
            return F.coalesce(
                (F.get(s, i - 1) == x) | (F.get(s, i + 1) == x),
                F.lit(False),
            )

        dup_cnt = F.size(F.filter(idx, isdup)).cast("long")
        zero = F.lit(0).cast("long")
        dup_chars = F.aggregate(
            idx, zero,
            lambda a, i: a + F.when(isdup(i), F.length(F.get(s, i)))
            .otherwise(0),
        )
        tot_chars = F.aggregate(s, zero, lambda a, x: a + F.length(x))
        one = F.lit(1).cast("long")
        return F.struct(
            F.round(
                dup_cnt.cast("double") / F.greatest(n.cast("long"), one),
                6,
            ).alias("dup_line_frac"),
            F.round(
                dup_chars.cast("double") / F.greatest(tot_chars, one), 6
            ).alias("dup_line_char_frac"),
        )

    return bind_once(F.array_sort(_gopher_lines(text)), per_sorted)


def _word_ngrams(words, n: int) -> Column:
    def mk(ws):
        cnt = F.greatest(F.size(ws) - F.lit(n - 1), F.lit(0))
        idx = F.when(cnt > 0, F.sequence(F.lit(1), cnt)).otherwise(
            _empty_ints()
        )
        return F.transform(idx, lambda i: F.array_join(F.slice(ws, i, n), " "))

    return bind_once(words, mk)


def top_ngram_char_frac(text, n: int) -> Column:
    """Fraction of normalized-text chars covered by the most frequent
    word n-gram: fold over the SORTED gram array tracking the longest
    run (ties keep the first = lexicographically smallest gram)."""
    norm_len = F.length(normalized(F.coalesce(text, F.lit(""))))

    def per_sorted(s):
        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
            F.lit(None).cast("string").alias("bestg"),
        )

        def merge(acc, x):
            run2 = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            better = run2 > acc["best"]
            return F.struct(
                x.alias("prev"),
                run2.alias("run"),
                F.when(better, run2).otherwise(acc["best"]).alias("best"),
                F.when(better, x).otherwise(acc["bestg"]).alias("bestg"),
            )

        top = F.aggregate(s, acc0, merge)
        chars = F.when(
            top["best"] > 0, top["best"] * F.length(top["bestg"])
        ).otherwise(F.lit(0)).cast("double")
        return F.round(
            F.least(
                chars / F.greatest(norm_len, F.lit(1)).cast("double"),
                F.lit(1.0),
            ),
            6,
        )

    return bind_once(
        F.array_sort(_word_ngrams(_gopher_words(text), n)), per_sorted
    )


def dup_ngram_char_frac(text, n: int) -> Column:
    """Fraction of normalized-text chars inside word n-grams occurring
    more than once (every instance counted, overlaps included — the
    Gopher approximation), capped at 1."""
    norm_len = F.length(normalized(F.coalesce(text, F.lit(""))))

    def per_sorted(s):
        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("chars"),
        )

        def merge(acc, x):
            run2 = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
                F.lit(1).cast("long")
            )
            # run hits 2: both members enter the dup set; past 2: one more
            add = (
                F.when(run2 == 2, F.length(x) * 2)
                .when(run2 > 2, F.length(x))
                .otherwise(0)
            )
            return F.struct(
                x.alias("prev"),
                run2.alias("run"),
                (acc["chars"] + add).alias("chars"),
            )

        dup_chars = F.aggregate(s, acc0, merge)["chars"].cast("double")
        return F.round(
            F.least(
                dup_chars / F.greatest(norm_len, F.lit(1)).cast("double"),
                F.lit(1.0),
            ),
            6,
        )

    return bind_once(
        F.array_sort(_word_ngrams(_gopher_words(text), n)), per_sorted
    )


def symbol_word_ratio(text) -> Column:
    """'#', '...' and '…' occurrences per word (non-overlapping regex
    count — identical semantics in Java regex and RE2/DuckDB)."""
    g = F.coalesce(text, F.lit(""))
    nsym = F.regexp_count(g, F.lit(r"#|\.{3}|…"))
    return F.round(
        nsym.cast("double") / F.greatest(token_count(g), F.lit(1)).cast("double"),
        6,
    )


def alpha_word_frac(text) -> Column:
    """Fraction of words containing at least one alphabetic character
    (latin or cyrillic; normalized text is lowercase)."""
    return bind_once(
        _gopher_words(text),
        lambda ws: F.round(
            F.size(F.filter(ws, lambda w: w.rlike("[a-zа-яё]"))).cast("double")
            / F.greatest(F.size(ws), F.lit(1)).cast("double"),
            6,
        ),
    )


def gopher_metrics(text) -> dict:
    """All Gopher-rule columns keyed by their output name."""
    dl = dup_line_stats(text)
    return {
        "dup_line_frac": dl["dup_line_frac"],
        "dup_line_char_frac": dl["dup_line_char_frac"],
        "top2gram_frac": top_ngram_char_frac(text, 2),
        "top3gram_frac": top_ngram_char_frac(text, 3),
        "dup5gram_frac": dup_ngram_char_frac(text, 5),
        "symbol_word_ratio": symbol_word_ratio(text),
        "alpha_word_frac": alpha_word_frac(text),
    }


#: Gopher rule thresholds (Rae et al. 2021 A1); metric -> (min, max).
GOPHER_THRESHOLDS = {
    "n_tokens": (50, 100_000),
    "mean_word_len": (3.0, 10.0),
    "symbol_word_ratio": (None, 0.1),
    "alpha_word_frac": (0.8, None),
    "dup_line_frac": (None, 0.3),
    "dup_line_char_frac": (None, 0.2),
    "top2gram_frac": (None, 0.2),
    "top3gram_frac": (None, 0.18),
    "dup5gram_frac": (None, 0.15),
}


def gopher_gate(metric_cols: dict) -> Column:
    """Boolean pass/fail of :data:`GOPHER_THRESHOLDS` over already-computed
    metric columns. Missing metrics are skipped, so callers gate on any
    subset."""
    out = F.lit(True)
    for name, (lo, hi) in GOPHER_THRESHOLDS.items():
        if name not in metric_cols:
            continue
        c = metric_cols[name]
        if lo is not None:
            out = out & (c >= F.lit(lo))
        if hi is not None:
            out = out & (c <= F.lit(hi))
    return out


def fingerprint(text) -> Column:
    """Stable document fingerprint: md5 of the normalized text (exact-dedup
    key; cheap, portable)."""
    return F.md5(normalized(text))


def winnow_fingerprints(text, k: int = 8, window: int = 4) -> Column:
    """Winnowing-style selective fingerprints: from the k-gram hash
    sequence keep each window's minimum (array<string> of md5 prefixes).
    Native arrays only — the standard local-min sketch for plagiarism-style
    matching."""
    from .dedup import bind_once, normalized as _norm

    # two binds (see dedup.bind_once): the normalized text would re-run
    # its regex per gram position, and the grams array would re-hash the
    # ENTIRE doc per window — O(n²) md5 calls per doc without them
    def per_t(t):
        n = F.length(t)
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        grams = F.transform(
            idx, lambda i: F.substring(F.md5(F.substring(t, i, F.lit(k))), 1, 8)
        )

        def per_g(g):
            nwin = F.greatest(F.size(g) - F.lit(window - 1), F.lit(1))
            wins = F.sequence(F.lit(0), nwin - F.lit(1))
            return F.array_distinct(
                F.transform(wins, lambda w: F.array_min(F.slice(g, w + 1, window)))
            )

        return bind_once(grams, per_g)

    return bind_once(_norm(text), per_t)

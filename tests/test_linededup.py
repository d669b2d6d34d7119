"""Line-level corpus dedup (operators.dedup.duplicate_lines /
remove_duplicate_lines — the CCNet (Wenzek et al. 2020) keep-first
line-dedup semantics).
Oracle here is a brute-force pure-Python line counter + rewriter over
the same trimmed-line space; the driver row (dedup_groups kind='lines')
adds the DuckDB SQL twin under the hash signal."""

import pytest
from pyspark.sql import Row

from companycatalogcrawlerparser_spark.operators import dedup as D


def _py_dup_lines(docs, min_docs):
    """Brute-force reference: trimmed non-blank lines occurring in >=
    min_docs distinct docs -> {line: (n_docs, n_occ, first_doc,
    first_pos)} with first = min (doc_id, pos) occurrence."""
    stats = {}
    for doc_id, text in docs:
        if text is None:
            continue
        for pos, line in enumerate(text.split("\n")):
            key = line.strip()
            if key == "":
                continue
            n_docs, n_occ, first = stats.get(key, (set(), 0, None))
            n_docs.add(doc_id)
            first = min(first, (doc_id, pos)) if first else (doc_id, pos)
            stats[key] = (n_docs, n_occ + 1, first)
    return {
        k: (len(d), occ, f[0], f[1])
        for k, (d, occ, f) in stats.items()
        if len(d) >= min_docs
    }


def _py_removed(docs, min_docs):
    dup = _py_dup_lines(docs, min_docs)
    out = {}
    for doc_id, text in docs:
        if text is None:
            out[doc_id] = (None, 0)
            continue
        kept, removed = [], 0
        for pos, line in enumerate(text.split("\n")):
            key = line.strip()
            hit = key in dup
            if hit and dup[key][2:] == (doc_id, pos):
                hit = False
            if hit:
                removed += 1
            else:
                kept.append(line)
        out[doc_id] = ("\n".join(kept), removed)
    return out


CORPUS = [
    (0, "unique zero\nsubscribe to our newsletter\nbody zero"),
    (1, "subscribe to our newsletter\nbody one\n   \nbody one tail"),
    (2, "body two\n  subscribe to our newsletter  \nunique two"),
    (3, "solo doc\nsolo doc\nsolo doc"),  # within-doc repeats only
    (4, None),
    (5, "subscribe to our newsletter"),  # whole doc is boilerplate
    (6, "shared pair line\nafter"),
    (7, "before\nshared pair line"),
]


def _run(spark, docs, min_docs=2):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in docs], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["text"], r["n_removed_lines"])
        for r in D.remove_duplicate_lines(df, min_docs=min_docs).collect()
    }
    return got


def test_keep_first_matches_python_oracle(spark):
    got = _run(spark, CORPUS)
    assert got == _py_removed(CORPUS, 2)


def test_keep_first_keeps_exactly_one_global_copy(spark):
    got = _run(spark, CORPUS)
    survivors = [
        (i, pos)
        for i, (t, _) in got.items()
        if t is not None
        for pos, line in enumerate(t.split("\n"))
        if line.strip() == "subscribe to our newsletter"
    ]
    # min (doc_id, pos) occurrence is doc 0 line 1
    assert survivors == [(0, 1)]


def test_untouched_doc_text_is_byte_identical(spark):
    got = _run(spark, CORPUS)
    assert got[3] == ("solo doc\nsolo doc\nsolo doc", 0)


def test_blank_lines_never_removed_and_never_count(spark):
    got = _run(spark, CORPUS)
    # doc 1's "   " blank line survives even though doc-blank lines
    # appear in several docs' trimmed space
    assert "   " in got[1][0].split("\n")


def test_whole_doc_boilerplate_excises_to_empty(spark):
    got = _run(spark, CORPUS)
    assert got[5] == ("", 1)


def test_null_text_stays_null(spark):
    got = _run(spark, CORPUS)
    assert got[4] == (None, 0)


def test_min_docs_threshold(spark):
    # at min_docs=3 the pair line (docs 6,7) no longer triggers: doc 7
    # keeps the copy it loses at min_docs=2
    assert _run(spark, CORPUS)[7] == ("before", 1)
    got = _run(spark, CORPUS, min_docs=3)
    assert got[6] == ("shared pair line\nafter", 0)
    assert got[7] == ("before\nshared pair line", 0)


def test_duplicate_lines_stats(spark):
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in CORPUS],
        "doc_id long, text string",
    )
    rows = {
        (r["n_docs"], r["n_occ"], r["first_doc"], r["first_pos"])
        for r in D.duplicate_lines(df, min_docs=2).collect()
    }
    # newsletter line: 4 docs, 4 occurrences, first = (0, 1);
    # shared pair line: 2 docs, 2 occ, first = (6, 0)
    assert rows == {(4, 4, 0, 1), (2, 2, 6, 0)}


def test_dedup_against_prior_snapshot(spark):
    prior = spark.createDataFrame(
        [Row(doc_id=0, text="Already  Seen doc")], "doc_id long, text string"
    )
    seen = D.exact_dedup(prior).select("content_hash")
    new = spark.createDataFrame(
        [
            Row(doc_id=10, text="already seen DOC"),   # dup of prior (normalized)
            Row(doc_id=11, text="fresh content"),
            Row(doc_id=12, text="FRESH   content"),    # in-batch dup of 11
            Row(doc_id=13, text="other fresh"),
        ],
        "doc_id long, text string",
    )
    out = D.dedup_against(new, seen)
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]
    assert "content_hash" in out.columns  # rolls the seen set forward

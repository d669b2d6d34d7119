"""Exact-substring duplicate-span dedup (operators.dedup.duplicate_spans
/ remove_duplicate_spans — the Lee et al. 2021 ExactSubstr semantics,
re-expressed relationally). Oracle here is a brute-force pure-Python
window counter + span merger operating on the same normalized token
space; the driver row (dedup_groups kinds spans/excised) adds the
DuckDB SQL twin under the hash signal."""

import hashlib
import re

import pytest
from pyspark.sql import Row

from companycatalogcrawlerparser_spark.operators import dedup as D


def _norm(text):
    if text is None:
        return None
    return re.sub(r"\s+", " ", text.strip().lower())


def _py_spans(docs, n, min_count):
    """Brute-force reference: count every n-token window across the
    corpus (within-doc repeats count), mark window starts whose window
    occurs >= min_count times, merge marked starts into maximal spans."""
    counts = {}
    starts = {}
    for doc_id, text in docs:
        toks = _norm(text).split(" ") if text is not None else []
        starts[doc_id] = []
        for i in range(max(0, len(toks) - n + 1)):
            w = " ".join(toks[i : i + n])
            counts[w] = counts.get(w, 0) + 1
            starts[doc_id].append((i, w))
    spans = []
    for doc_id, _ in docs:
        marked = [i for i, w in starts.get(doc_id, []) if counts[w] >= min_count]
        run, prev = None, None
        for p in sorted(marked):
            if run is not None and p - prev <= n:
                run[1] = p + n
            else:
                if run is not None:
                    spans.append((doc_id, run[0], run[1]))
                run = [p, p + n]
            prev = p
        if run is not None:
            spans.append((doc_id, run[0], run[1]))
    return sorted(spans)


def _py_excised(docs, n, min_count):
    spans = _py_spans(docs, n, min_count)
    out = {}
    for doc_id, text in docs:
        if text is None:
            out[doc_id] = (None, 0)
            continue
        toks = _norm(text).split(" ")
        cut = [s for s in spans if s[0] == doc_id]
        kept = [
            t
            for i, t in enumerate(toks)
            if not any(a <= i < b for _, a, b in cut)
        ]
        out[doc_id] = (" ".join(kept), len(toks) - len(kept))
    return out


def _mk(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string"
    )


WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()


def _sentence(seed, k):
    return " ".join(WORDS[(seed + j) % len(WORDS)] for j in range(k))


class TestDuplicateSpans:
    def _check(self, spark, rows, n, min_count):
        df = _mk(spark, rows)
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"])
            for r in D.duplicate_spans(
                df, n=n, min_count=min_count
            ).collect()
        )
        assert got == _py_spans(rows, n, min_count)
        exc = {
            r["doc_id"]: (r["text"], r["n_removed_tokens"])
            for r in D.remove_duplicate_spans(
                df, n=n, min_count=min_count
            ).collect()
        }
        assert exc == _py_excised(rows, n, min_count)

    def test_cross_doc_shared_span(self, spark):
        shared = _sentence(0, 6)
        rows = [
            (1, shared + " " + _sentence(3, 5)),
            (2, _sentence(7, 4) + " " + shared),
            (3, _sentence(2, 9)),
        ]
        self._check(spark, rows, n=4, min_count=2)

    def test_within_doc_repeat_counts(self, spark):
        # the same window twice INSIDE one doc must count (paper
        # semantics) — doc 1 repeats a 4-gram, no other doc has it
        rep = _sentence(1, 4)
        rows = [(1, rep + " " + _sentence(5, 3) + " " + rep), (2, _sentence(8, 6))]
        spans = _py_spans(rows, 4, 2)
        assert {s[0] for s in spans} == {1}
        self._check(spark, rows, n=4, min_count=2)

    def test_overlapping_windows_merge_to_one_span(self, spark):
        # a 7-token shared run with n=4 marks starts 0..3 → ONE span
        shared = _sentence(0, 7)
        rows = [(1, shared), (2, shared + " " + _sentence(4, 3))]
        df = _mk(spark, rows)
        got = D.duplicate_spans(df, n=4).collect()
        assert sorted(
            (r["doc_id"], r["span_start"], r["span_end"]) for r in got
        ) == [(1, 0, 7), (2, 0, 7)]
        self._check(spark, rows, n=4, min_count=2)

    def test_disjoint_islands_stay_separate(self, spark):
        a, b = _sentence(0, 4), _sentence(5, 4)
        filler = "unique%d " % 99
        rows = [
            (1, a + " x0 x1 x2 x3 x4 " + b),
            (2, a + " y0 y1 y2 y3 y4 " + b),
        ]
        spans = _py_spans(rows, 4, 2)
        assert len([s for s in spans if s[0] == 1]) == 2, (spans, filler)
        self._check(spark, rows, n=4, min_count=2)

    def test_whole_doc_duplicate_excises_to_empty(self, spark):
        t = _sentence(0, 5)
        rows = [(1, t), (2, t), (3, _sentence(5, 5))]
        df = _mk(spark, rows)
        exc = {
            r["doc_id"]: (r["text"], r["n_removed_tokens"])
            for r in D.remove_duplicate_spans(df, n=4).collect()
        }
        assert exc[1] == ("", 5) and exc[2] == ("", 5)
        assert exc[3][1] == 0
        self._check(spark, rows, n=4, min_count=2)

    def test_null_and_short_docs(self, spark):
        rows = [
            (1, None),
            (2, "two tokens"),
            (3, _sentence(0, 6)),
            (4, _sentence(0, 6)),
            (5, ""),
        ]
        self._check(spark, rows, n=4, min_count=2)

    def test_min_count_three(self, spark):
        t = _sentence(0, 4)
        rows = [(1, t), (2, t), (3, _sentence(5, 5))]
        assert _py_spans(rows, 4, 3) == []
        self._check(spark, rows, n=4, min_count=3)
        rows.append((4, t + " " + _sentence(7, 2)))
        self._check(spark, rows, n=4, min_count=3)

    def test_normalization_is_shared_space(self, spark):
        # spans are in NORMALIZED token coordinates: case/whitespace
        # variants of the same window must collide
        rows = [
            (1, "Alpha   Bravo\tCHARLIE delta " + _sentence(6, 3)),
            (2, "alpha bravo charlie delta " + _sentence(2, 4)),
        ]
        spans = _py_spans(rows, 4, 2)
        assert (1, 0, 4) in spans and (2, 0, 4) in spans
        self._check(spark, rows, n=4, min_count=2)

    def test_precomputed_spans_reused(self, spark):
        rows = [(1, _sentence(0, 6)), (2, _sentence(0, 6))]
        df = _mk(spark, rows)
        sp = D.duplicate_spans(df, n=4)
        out = D.remove_duplicate_spans(df, n=4, spans=sp).collect()
        assert all(r["text"] == "" for r in out)

    def test_n_validation(self, spark):
        with pytest.raises(ValueError):
            D.duplicate_spans(_mk(spark, [(1, "a b")]), n=1)

    def test_hash_matches_duckdb_idiom(self, spark):
        # the 60-bit window hash must equal DuckDB's
        # ('0x' || substr(md5(w),1,15))::BIGINT — pin one value here so
        # the driver-row twin can't silently drift
        w = "alpha bravo charlie delta"
        expect = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
        got = D._window_hashes(_mk(spark, [(1, w)]), 4).collect()
        assert [(r["pos"], r["__wh"]) for r in got] == [(0, expect)]

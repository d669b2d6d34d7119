"""BPE tokenizer training + encoding (operators.bpe).

The reference has no tokenizer (its text layer is regex extraction —
`CrawlerParser/Program.fs`); this is training-data-pipeline surface
(SURVEY §2 N25). The hard check is the driver row (corpus_curation
kinds bpe_merge/bpe_word/bpe_doc vs harness._py_bpe); these tests pin
the semantics on hand-computable corpora plus the full fixture
agreement so failures localize.
"""

import pytest
from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark import harness as H
from companycatalogcrawlerparser_spark.operators import bpe as B


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


class TestLearn:
    def test_hand_computed_merges(self, spark):
        # corpus: 'abab' x3, 'abc' x2 → pair counts round 1:
        # (a,b)=8, (b,a)=3, (b,c)=2 → merge ('a','b') @8
        # round 2: ('ab','ab')=3, ('ab','c')=2 → merge ('ab','ab') @3
        # round 3: ('abab' alone), ('ab','c')=2 → merge ('ab','c') @2
        # round 4: nothing ≥2 → stop
        docs = _docs(spark, ["abab abab abc", "abab abc"])
        merges = B.learn_bpe(B.word_counts(docs), num_merges=10)
        assert merges == [
            ("a", "b", 8),
            ("ab", "ab", 3),
            ("ab", "c", 2),
        ]

    def test_tie_breaks_to_lexicographically_smaller_pair(self, spark):
        # 'ba' and 'ab' both appear twice → ('a','b') wins the tie
        docs = _docs(spark, ["ab ba", "ba ab"])
        merges = B.learn_bpe(B.word_counts(docs), num_merges=1)
        assert merges[0][:2] == ("a", "b")

    def test_vocab_cap_gates_merge_votes(self, spark, monkeypatch):
        # cap=1 keeps only the most frequent word ('xy' x3); the 'zq'
        # pair (freq 2, above min_freq) must NOT be learned
        monkeypatch.setattr(B, "MAX_VOCAB_ROWS", 1)
        docs = _docs(spark, ["xy xy xy zq zq"])
        merges = B.learn_bpe(B.word_counts(docs), num_merges=10)
        assert merges == [("x", "y", 3)]


class TestEncode:
    def test_greedy_rank_order(self):
        # ranks: (a,b)=0, (ab,c)=1, (b,c)=2 — greedy applies lowest
        # rank first, so 'abc' → ab c → abc, never a bc
        ranks = {("a", "b"): 0, ("ab", "c"): 1, ("b", "c"): 2}
        assert B.encode_word_py("abc", ranks) == ["abc"]
        # no applicable merge → stays character-split
        assert B.encode_word_py("zz", ranks) == ["z", "z"]

    def test_encode_corpus_totals_and_blank_docs(self, spark):
        docs = spark.createDataFrame(
            [(0, "abab abc"), (1, ""), (2, None), (3, "abab")],
            "doc_id long, text string",
        )
        merges = B.learn_bpe(B.word_counts(docs), num_merges=10)
        out = {
            r["doc_id"]: (r["n_bpe_tokens"], r["bpe_fp"])
            for r in B.encode_corpus(docs, merges).collect()
        }
        # total decoration: blank AND null docs present, n=0, md5('')
        import hashlib

        empty = hashlib.md5(b"").hexdigest()
        assert set(out) == {0, 1, 2, 3}
        assert out[1] == (0, empty) and out[2] == (0, empty)
        # merges: (a,b)@8? here 'abab'x2+'abc' → (a,b)=5,(b,a)=2,(b,c)=1
        # → ab; ('ab','ab')=2 → abab; stop. doc0 = [abab, ab, c] = 3
        assert out[0][0] == 3
        assert out[3][0] == 1
        # fingerprint is order-exact over the doc's subword stream
        assert (
            out[0][1]
            == hashlib.md5("abab ab c".encode()).hexdigest()
        )

    def test_occurrences_tokenize_once(self, spark):
        # plan shape: the pandas-UDF encode runs over the DISTINCT word
        # frame, then joins back — the corpus side must show a
        # Deduplicate/Aggregate on word feeding the UDF, and no
        # cartesian product anywhere
        docs = _docs(spark, ["aa bb aa bb aa"] * 3)
        merges = B.learn_bpe(B.word_counts(docs), num_merges=2)
        plan = B.encode_corpus(docs, merges)._jdf.queryExecution().toString()
        assert "CartesianProduct" not in plan
        assert "ArrowEvalPython" in plan


class TestFixtureTwin:
    def test_engine_matches_pure_python_twin(self, spark):
        """Full fixture agreement — the same comparison the driver row
        makes, kept in pytest so a bpe regression localizes here
        instead of inside the folded corpus_curation hash."""
        got = sorted(
            (r["kind"], r["doc_id"], r["grp"], r["val"])
            for r in H.q_bpe_rows(spark).collect()
        )
        want = sorted(
            (k, int(d), g, int(v)) for (k, d, g, v) in H._py_bpe()
        )
        assert got == want
        # sanity: the fixture actually contests merges (bpe_merge rows
        # exist and the first merge's count dwarfs min_freq)
        first = [r for r in want if r[0] == "bpe_merge" and r[1] == 0]
        assert first and first[0][3] > 100

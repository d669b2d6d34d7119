"""CCNet-style bigram-LM perplexity scoring (operators.lm).

The hard check is the driver row (text_metrics lm_logp/n_lm_terms vs
the full relational twin in DuckDB); these pin the model arithmetic on
hand-computable corpora so a regression localizes.
"""

import math

import pytest
from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.operators import lm as LM


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


@pytest.fixture(scope="module")
def model(spark):
    # reference corpus: "a b" x2, "a c" — bigrams: (<s>,a)x3, (a,b)x2,
    # (a,c)x1 → c_v: <s>=3, a=3; vocab = |{a,b,c}| = 3
    return LM.train_bigram_lm(_docs(spark, ["a b", "a b", "a c"])).persist()


class TestTrain:
    def test_hand_computed_counts(self, model):
        got = {
            (r["v"], r["w"]): (r["c_vw"], r["c_v"], r["vocab"])
            for r in model.collect()
        }
        assert got == {
            ("<s>", "a"): (3, 3, 3),
            ("a", "b"): (2, 3, 3),
            ("a", "c"): (1, 3, 3),
        }


class TestScore:
    def test_hand_computed_logprob(self, spark, model):
        # doc "a b": ln((3+1)/(3+3+1)) + ln((2+1)/(3+3+1))
        # doc "a z": seen context, unseen word → ln(4/7) + ln(1/7)
        # doc "z q": (<s>,z) = seen context '<s>', unseen word →
        # ln(1/7); (z,q) = unseen context → ln(1/(0+3+1))
        out = {
            r["doc_id"]: (r["lm_logp"], r["n_lm_terms"], r["ppl"])
            for r in LM.lm_logprob(
                _docs(spark, ["a b", "a z", "z q"]), model
            ).collect()
        }
        exp0 = math.log(4 / 7) + math.log(3 / 7)
        exp1 = math.log(4 / 7) + math.log(1 / 7)
        exp2 = math.log(1 / 7) + math.log(1 / 4)
        assert out[0][0] == pytest.approx(round(exp0, 6), abs=1e-6)
        assert out[1][0] == pytest.approx(round(exp1, 6), abs=1e-6)
        assert out[2][0] == pytest.approx(round(exp2, 6), abs=1e-6)
        assert [out[i][1] for i in (0, 1, 2)] == [2, 2, 2]
        # perplexity = exp(-logp/n); the reference-like doc scores lower
        assert out[0][2] == pytest.approx(math.exp(-exp0 / 2), rel=1e-9)
        assert out[0][2] < out[1][2] < out[2][2]

    def test_total_decoration_empty_docs(self, spark, model):
        out = {
            r["doc_id"]: (r["lm_logp"], r["n_lm_terms"], r["ppl"])
            for r in LM.lm_logprob(
                _docs(spark, ["", None, "   ", "a b"]), model
            ).collect()
        }
        assert set(out) == {0, 1, 2, 3}
        for i in (0, 1, 2):
            assert out[i] == (0.0, 0, None)
        assert out[3][1] == 2

    def test_parts_path_identical(self, spark):
        # r8: lm_logprob(parts=...) consumes the model's decomposed
        # (cvw, cv, voc) frames instead of re-executing the model join
        # per broadcast build — must be row-identical to the model-frame
        # path on every column, including the unseen-word, the
        # unseen-context and the empty-doc branches
        ref = _docs(spark, ["a b", "a b", "a c"])
        model, parts = LM.train_bigram_lm(ref, with_parts=True)
        corpus = _docs(spark, ["a b", "a z", "z q", "", None, "a b c a"])
        base = {
            r["doc_id"]: (r["lm_logp"], r["n_lm_terms"], r["ppl"])
            for r in LM.lm_logprob(corpus, model).collect()
        }
        got = {
            r["doc_id"]: (r["lm_logp"], r["n_lm_terms"], r["ppl"])
            for r in LM.lm_logprob(corpus, model, parts=parts).collect()
        }
        assert got == base

    def test_model_broadcast_no_corpus_shuffle_on_keys(self, spark, model):
        plan = (
            LM.lm_logprob(_docs(spark, ["a b c d"] * 50), model)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # both model joins broadcast on the token axis — the corpus
        # never shuffle-joins on v/(v,w); the one allowed SortMergeJoin
        # is the doc_id-keyed decorating join back onto docs
        # 2 scoring joins + the training-time context decoration
        assert plan.count("BroadcastHashJoin [v") >= 2
        assert "SortMergeJoin [v" not in plan
        assert "CartesianProduct" not in plan


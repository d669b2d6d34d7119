"""DSIR importance resampling (operators.dsir) vs a brute-force Python
reference: hashed bigram features, Laplace-smoothed log ratios, per-doc
scores."""

import hashlib
import math
import re

import pytest
from pyspark.sql import Row

from companycatalogcrawlerparser_spark.operators import dsir as DS

B = 64  # tiny bucket space: forces collisions AND unseen buckets


def _norm(t):
    return re.sub(r"\s+", " ", t.strip().lower()) if t is not None else None


def _py_features(text, n=2, num_buckets=B):
    if text is None:
        return []
    toks = _norm(text).split(" ")
    return [
        int(
            hashlib.md5(
                " ".join(toks[i : i + n]).encode()
            ).hexdigest()[:15],
            16,
        )
        % num_buckets
        for i in range(max(0, len(toks) - n + 1))
    ]


def _py_ratios(target, raw, alpha=0.5, num_buckets=B):
    tc, rc = [0] * num_buckets, [0] * num_buckets
    for _, t in target:
        for b in _py_features(t):
            tc[b] += 1
    for _, t in raw:
        for b in _py_features(t):
            rc[b] += 1
    T, R = sum(tc), sum(rc)
    return [
        math.log((tc[b] + alpha) / (T + alpha * num_buckets))
        - math.log((rc[b] + alpha) / (R + alpha * num_buckets))
        for b in range(num_buckets)
    ]


def _py_scores(docs, target, raw):
    lr = _py_ratios(target, raw)
    return {
        i: (sum(lr[b] for b in _py_features(t)), len(_py_features(t)))
        for i, t in docs
    }


def _mk(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in rows], "doc_id long, text string"
    )


TARGET = [
    (0, "clean formal prose about science and method"),
    (1, "formal prose about careful science experiments"),
]
RAW = [
    (10, "clean formal prose about science and method today"),
    (11, "buy cheap pills now click here buy now"),
    (12, "careful science experiments with formal prose about science"),
    (13, "click click here cheap cheap pills pills"),
    (14, "short"),
    (15, None),
]


class TestDsir:
    def test_features_match_python(self, spark):
        got = {}
        for r in DS.dsir_features(_mk(spark, RAW), num_buckets=B).collect():
            got.setdefault(r["doc_id"], []).append(r["bucket"])
        for i, t in RAW:
            assert sorted(got.get(i, [])) == sorted(_py_features(t)), i

    def test_log_ratios_match_python(self, spark):
        ratios = {
            r["bucket"]: r["log_ratio"]
            for r in DS.dsir_log_ratios(
                _mk(spark, TARGET), _mk(spark, RAW), num_buckets=B
            ).collect()
        }
        exp = _py_ratios(TARGET, RAW)
        assert sorted(ratios) == list(range(B))  # ALL buckets present
        for b in range(B):
            assert ratios[b] == pytest.approx(exp[b], abs=1e-12), b

    def test_scores_match_python_and_total_decoration(self, spark):
        docs = _mk(spark, RAW)
        ratios = DS.dsir_log_ratios(docs.filter("doc_id < 0"), docs,
                                    num_buckets=B)
        # target = the TARGET corpus for the real check
        ratios = DS.dsir_log_ratios(_mk(spark, TARGET), docs, num_buckets=B)
        scored = {r["doc_id"]: r for r in
                  DS.dsir_scores(docs, ratios, num_buckets=B).collect()}
        exp = _py_scores(RAW, TARGET, RAW)
        assert set(scored) == {i for i, _ in RAW}  # total decoration
        for i, (s, nf) in exp.items():
            assert scored[i]["dsir_score"] == pytest.approx(s, abs=1e-9), i
            assert scored[i]["n_features"] == nf
        # featureless docs score 0 exactly
        assert scored[14]["dsir_score"] == 0.0 and scored[14]["n_features"] == 0
        assert scored[15]["dsir_score"] == 0.0

    def test_target_like_docs_rank_higher(self, spark):
        docs = _mk(spark, RAW)
        ratios = DS.dsir_log_ratios(_mk(spark, TARGET), docs, num_buckets=B)
        s = {r["doc_id"]: r["dsir_score"]
             for r in DS.dsir_scores(docs, ratios, num_buckets=B).collect()}
        # the two target-like docs beat the two spammy ones
        assert min(s[10], s[12]) > max(s[11], s[13])

    def test_partition_invariance(self, spark):
        docs = _mk(spark, RAW)
        ratios = DS.dsir_log_ratios(_mk(spark, TARGET), docs, num_buckets=B)

        def scores(d):
            # float sums may differ in the last ulp across partitionings
            return {(r["doc_id"], round(r["dsir_score"], 9), r["n_features"])
                    for r in DS.dsir_scores(d, ratios, num_buckets=B).collect()}

        assert scores(docs) == scores(docs.repartition(7))

    def test_ratio_plan_is_broadcast(self, spark):
        docs = _mk(spark, RAW)
        ratios = DS.dsir_log_ratios(_mk(spark, TARGET), docs, num_buckets=B)
        plan = DS.dsir_scores(docs, ratios, num_buckets=B)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
